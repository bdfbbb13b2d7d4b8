"""Text-analysis declared queries over the documents corpus
(training-data-pipeline operators, SURVEY §7.2 M5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentiflow_spark.functions.text import (
    duck_fingerprint,
    duck_lang_id,
    duck_quality_score,
    duck_token_count,
    duck_word_count,
    duck_word_tokens,
    fingerprint,
    lang_id,
    token_count,
    word_count,
    word_tokens,
)
from sentiflow_spark.queries.registry import register
from sentiflow_spark.tables import load


@register(
    "txt_token_stats",
    oracle=f"""
    SELECT doc_id,
           length(text) AS n_chars_obs,
           strlen(text) AS n_bytes,
           {duck_word_count("text")} AS n_words,
           {duck_token_count("text")} AS n_tokens,
           len(list_distinct({duck_word_tokens("text")})) AS n_unique_words
    FROM documents
    """,
    tags=("text", "M5", "bench"),
    doc="Token counting: chars/bytes/words/BPE-ish tokens/unique words.",
)
def txt_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("n_chars_obs"),
        F.octet_length(t).alias("n_bytes"),
        word_count(t).alias("n_words"),
        token_count(t).alias("n_tokens"),
        F.size(
            F.array_distinct(word_tokens(t))
        ).alias("n_unique_words"),
    )


@register(
    "txt_lang_id",
    oracle=f"""
    SELECT {duck_lang_id('text')} AS pred_lang, lang, COUNT(*) AS n
    FROM documents GROUP BY 1, 2
    """,
    tags=("text", "M5"),
    doc="Heuristic language-ID vs the labeled lang column (confusion counts).",
)
def txt_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(lang_id(F.col("text")).alias("pred_lang"), "lang")
        .groupBy("pred_lang", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "txt_quality_filter",
    oracle=f"""
    SELECT doc_id, {duck_quality_score('text')} AS quality
    FROM documents
    WHERE {duck_quality_score('text')} >= 0.5
    """,
    tags=("text", "M5", "bench"),
    doc="Quality scoring + threshold filter (the corpus-cleaning primitive).",
)
def txt_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.functions.text import (
        quality_components,
        quality_from_components,
    )

    docs = load(spark, sf_dir, "documents")
    comps = quality_components(F.col("text"))
    counted = docs.select(
        "doc_id", *[c.alias(name) for name, c in comps.items()]
    )
    q = quality_from_components(
        F.col("n_chars"), F.col("n_words"), F.col("n_punct"), F.col("n_stop")
    )
    return counted.select("doc_id", q.alias("quality")).filter(
        F.col("quality") >= 0.5
    )


@register(
    "txt_fingerprint",
    oracle=f"""
    SELECT doc_id, {duck_fingerprint('text')} AS fp FROM documents
    """,
    tags=("text", "M5"),
    doc="Canonical document fingerprint (normalize → md5).",
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@register(
    "txt_string_funcs",
    oracle="""
    SELECT doc_id,
           upper(substr(text, 1, 12)) AS head_upper,
           reverse(substr(text, 1, 8)) AS head_rev,
           replace(substr(text, 1, 30), ' ', '_') AS head_snake,
           lpad(CAST(doc_id AS VARCHAR), 8, '0') AS id_padded,
           split_part(text, ' ', 1) AS first_word,
           instr(text, 'data') AS data_pos,
           levenshtein(substr(text, 1, 10), 'the fast k') AS lev10,
           translate(substr(text, 1, 10), 'aeiou', 'AEIOU') AS vowels_up,
           repeat('-', 3) || trim(substr(text, 1, 6)) AS dashed
    FROM documents
    """,
    tags=("text", "expression", "E5"),
    doc="String function family (E5 surface + extensions).",
)
def txt_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.upper(F.substring(t, 1, 12)).alias("head_upper"),
        F.reverse(F.substring(t, 1, 8)).alias("head_rev"),
        F.replace(F.substring(t, 1, 30), F.lit(" "), F.lit("_")).alias("head_snake"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("id_padded"),
        F.split_part(t, F.lit(" "), F.lit(1)).alias("first_word"),
        F.instr(t, "data").alias("data_pos"),
        F.levenshtein(F.substring(t, 1, 10), F.lit("the fast k")).alias("lev10"),
        F.translate(F.substring(t, 1, 10), "aeiou", "AEIOU").alias("vowels_up"),
        F.concat(F.repeat(F.lit("-"), 3), F.trim(F.substring(t, 1, 6))).alias("dashed"),
    )


@register(
    "txt_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mon,
           CAST(day(o_orderdate) AS INTEGER) AS dom,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow_sunday1,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(o_orderdate + INTERVAL 30 DAYS, '%Y-%m-%d') AS due_date,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INTEGER)
             AS days_since_epoch_start
    FROM orders
    """,
    tags=("text", "expression", "E6", "E7"),
    doc="Date/time function family (E6/E7 surface). DuckDB dayofweek is "
    "0=Sunday vs Spark 1=Sunday — normalized in the oracle.",
)
def txt_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mon"),
        F.dayofmonth(d).alias("dom"),
        F.dayofweek(d).alias("dow_sunday1"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"), "yyyy-MM-dd").alias(
            "due_date"
        ),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
    )


@register(
    "txt_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_extendedprice - 50000.0) AS abs_diff,
           CAST(ceil(l_extendedprice / 1000.0) AS BIGINT) AS price_kilo_ceil,
           CAST(floor(l_quantity / 10.0) AS BIGINT) AS qty_decade,
           sqrt(l_quantity) AS qty_sqrt,
           CAST(sign(l_extendedprice - 50000.0) AS INTEGER) AS side,
           CAST(l_quantity AS BIGINT) % 7 AS qty_mod7,
           greatest(l_discount, l_tax) AS max_rate,
           least(l_discount, l_tax) AS min_rate,
           CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * 2, 0) AS DOUBLE)
             AS doubled_round
    FROM lineitem WHERE l_orderkey % 100 = 0
    """,
    tags=("text", "expression", "math"),
    doc="Math function family. sqrt is IEEE-correctly-rounded in both "
    "engines; exp/ln are not guaranteed and stay out of oracle scope. "
    "The decimal round is cast back to DOUBLE per determinism rule #1 "
    "(raw Decimal objects dtype-mismatch the driver's pandas canon).",
)
def txt_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    price, qty = F.col("l_extendedprice"), F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(price - 50000.0).alias("abs_diff"),
        F.ceil(price / 1000.0).alias("price_kilo_ceil"),
        F.floor(qty / 10.0).alias("qty_decade"),
        F.sqrt(qty).alias("qty_sqrt"),
        F.signum(price - 50000.0).cast("int").alias("side"),
        (qty.cast("long") % 7).alias("qty_mod7"),
        F.greatest(F.col("l_discount"), F.col("l_tax")).alias("max_rate"),
        F.least(F.col("l_discount"), F.col("l_tax")).alias("min_rate"),
        F.round(price.cast("decimal(18,2)") * 2, 0)
        .cast("double")
        .alias("doubled_round"),
    )


@register(
    "txt_array_funcs",
    oracle="""
    SELECT lang,
           array_to_string(list_sort(list_distinct(list(source))), ',') AS sources,
           CAST(len(list_distinct(list(source))) AS INTEGER) AS n_sources,
           list_contains(list_distinct(list(source)), 'src0') AS has_src0,
           array_to_string(list_sort(list_distinct(list(source))), '+') AS joined
    FROM documents GROUP BY lang
    """,
    tags=("text", "expression", "array", "E4"),
    doc="Array functions: collect_set/sort/size/contains/join (E4 "
    "surface). The array itself is exercised in-plan; the OUTPUT ships "
    "it comma-joined because list-typed cells crash the driver's pandas "
    "sort_values canonicalization (CORRECTNESS_r03 ret_build_index).",
)
def txt_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sources = F.array_join(F.sort_array(F.collect_set("source")), ",")
    return docs.groupBy("lang").agg(
        sources.alias("sources"),
        F.size(F.collect_set("source")).alias("n_sources"),
        F.array_contains(F.sort_array(F.collect_set("source")), "src0").alias("has_src0"),
        F.array_join(F.sort_array(F.collect_set("source")), "+").alias("joined"),
    )


@register(
    "txt_json_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_parsed,
           to_json(struct_pack(t := event_type, u := user_id)) AS packed
    FROM events
    """,
    tags=("text", "expression", "json"),
    doc="JSON function family: from_json with a declared schema (typed "
    "struct access) and to_json serialization — byte-identical output "
    "in both engines (same key order, no whitespace).",
)
def txt_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    parsed = F.from_json("props", "k INT")
    return ev.select(
        "event_id",
        parsed["k"].alias("k_parsed"),
        F.to_json(
            F.struct(F.col("event_type").alias("t"), F.col("user_id").alias("u"))
        ).alias("packed"),
    )


@register(
    "txt_map_funcs",
    oracle="""
    SELECT event_id,
           'type,uid' AS ks,
           event_type AS type_val,
           CAST(user_id AS VARCHAR) AS uid_val
    FROM events
    """,
    tags=("text", "expression", "map"),
    doc="Map function family: create_map / map_keys / element_at; the "
    "oracle states the ground-truth values directly. map_keys output "
    "ships comma-joined (collection cells crash the driver canon).",
)
def txt_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    m = F.create_map(
        F.lit("type"),
        F.col("event_type"),
        F.lit("uid"),
        F.col("user_id").cast("string"),
    )
    return ev.select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("ks"),
        F.element_at(m, "type").alias("type_val"),
        F.element_at(m, "uid").alias("uid_val"),
    )


from sentiflow_spark.functions.hashing import duck_md5_i32 as _duck_md5_i32


@register(
    "txt_train_val_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_duck_md5_i32("'split42:' || CAST(doc_id AS VARCHAR)")} % 100 < 90
                THEN 'train' ELSE 'val' END AS split
    FROM documents
    """,
    tags=("text", "M5", "sampling"),
    doc="Deterministic 90/10 train/val split by salted-hash-mod — "
    "reproducible across runs, engines, and cluster sizes (rand()- "
    "based sampling is none of those); the standard way to split a "
    "100 TB corpus without a shuffle or a stored assignment table.",
)
def txt_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.functions.hashing import md5_i32

    docs = load(spark, sf_dir, "documents")
    bucket = md5_i32(
        F.concat(F.lit("split42:"), F.col("doc_id").cast("string"))
    ) % 100
    return docs.select(
        "doc_id",
        F.when(bucket < 90, "train").otherwise("val").alias("split"),
    )


@register(
    "txt_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_duck_md5_i32("'strat42:' || CAST(doc_id AS VARCHAR)")} % 1000
          < CASE lang WHEN 'en' THEN 250 WHEN 'zh' THEN 1000 ELSE 600 END
    """,
    tags=("text", "M5", "sampling"),
    doc="Stratified downsampling by salted-hash-mod with per-language "
    "keep rates (rebalance a web corpus dominated by one language: "
    "en kept at 25%, zh at 100%, rest at 60%). A pure map-side "
    "filter — no shuffle, no stored sample table, reproducible on "
    "any cluster size; the literal rate map plays the role of a "
    "broadcast dimension (compiled into the plan like the "
    "reference's CategoryToSubreddits map, "
    "internal/producer/fetch.go:19-29).",
)
def txt_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.functions.hashing import md5_i32

    docs = load(spark, sf_dir, "documents")
    bucket = md5_i32(
        F.concat(F.lit("strat42:"), F.col("doc_id").cast("string"))
    ) % 1000
    rate = (
        F.when(F.col("lang") == "en", 250)
        .when(F.col("lang") == "zh", 1000)
        .otherwise(600)
    )
    return docs.filter(bucket < rate).select("doc_id", "lang")


@register(
    "txt_ngram_counts",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {duck_word_tokens("text")} AS t
      FROM documents
    ),
    grams AS (
      SELECT unnest(list_transform(
               generate_series(1, greatest(len(t) - 1, 0)),
               i -> t[i] || ' ' || t[i+1])) AS bigram
      FROM toks
    )
    SELECT bigram, COUNT(*) AS n
    FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 25
    """,
    tags=("text", "M5", "ngram", "aggregate"),
    doc="Corpus bigram frequency, top-25 with lexicographic tiebreak — "
    "the building block for n-gram LMs / contamination checks over a "
    "training corpus. Tokenize → inline bigram assembly (zip of the "
    "token array with its own tail — no explode-then-self-join) → "
    "explode → count. One shuffle on the bigram key; counts partial-"
    "aggregate map-side, and the top-k is TakeOrderedAndProject.",
)
def txt_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(word_tokens(F.col("text")).alias("t"))
    bigrams = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(25)
    )


SEQ_BUDGET = 2048  # token budget per packed training sequence
VOCAB_MIN_COUNT = 5


@register(
    "txt_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {duck_token_count("text")} AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // {SEQ_BUDGET} AS BIGINT) AS seq_id
    FROM c
    """,
    tags=("text", "M5", "sampling", "bench"),
    doc="Sequence packing for LLM training: assign each document to a "
    "fixed token-budget training sequence by running-sum fill. The "
    "running sum is PARTITIONED BY lang (pack within language shards), "
    "so the window parallelizes across shards instead of serializing "
    "the corpus through one global ordering — the way a 100 TB corpus "
    "is actually packed (per shard/file, never globally). Deterministic "
    "by doc_id order; integer arithmetic end to end.",
)
def txt_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "lang", token_count(F.col("text")).alias("n_tokens")
    )
    w = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        t.withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.expr(f"(cum - n_tokens) div {SEQ_BUDGET}").alias("seq_id"),
        )
    )


@register(
    "txt_vocab_build",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({duck_word_tokens("text")}) AS term
      FROM documents
    ),
    cnt AS (
      SELECT term, COUNT(*) AS n FROM toks GROUP BY term
    )
    SELECT term, n,
           row_number() OVER (ORDER BY n DESC, term) - 1 AS token_id
    FROM cnt WHERE n >= {VOCAB_MIN_COUNT}
    """,
    tags=("text", "M5"),
    doc="Tokenizer vocabulary build: corpus term counts -> contiguous "
    "frequency-ranked token ids (min-count pruned). The count is a "
    "map-side partial agg over the corpus; the global enumeration runs "
    "on the post-aggregation vocabulary, which is bounded by distinct "
    "terms (not corpus size) and is inherently a single total order.",
)
def txt_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(word_tokens(F.col("text"))).alias("term"))
    cnt = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= VOCAB_MIN_COUNT)
    )
    w = W.orderBy(F.desc("n"), F.asc("term"))
    return cnt.select(
        "term", "n", (F.row_number().over(w) - F.lit(1)).alias("token_id")
    )


@register(
    "txt_curation_e2e",
    oracle=f"""
    WITH s1 AS (
      SELECT doc_id, lang,
             {{FP}} AS fp,
             {duck_token_count("text")} AS n_tokens,
             {{QUALITY}} AS quality
      FROM documents
    ),
    dedup AS (
      SELECT doc_id, lang, n_tokens, quality FROM (
        SELECT s1.*, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
        FROM s1
      ) WHERE rn = 1
    ),
    kept AS (
      SELECT doc_id, lang, quality, n_tokens FROM dedup
      WHERE quality >= 0.5
        AND {{STRAT}} % 1000
            < CASE lang WHEN 'en' THEN 250 WHEN 'zh' THEN 1000 ELSE 600 END
    ),
    packed AS (
      SELECT doc_id, lang, quality, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM kept
    )
    SELECT doc_id, lang, quality, n_tokens,
           CAST((cum - n_tokens) // {SEQ_BUDGET} AS BIGINT) AS seq_id
    FROM packed
    """.format(
        FP=duck_fingerprint("text"),
        QUALITY=duck_quality_score("text"),
        STRAT=_duck_md5_i32("'strat42:' || CAST(doc_id AS VARCHAR)"),
    ),
    tags=("text", "M5", "bench"),
    doc="End-to-end corpus curation: exact-dedup survivors -> quality "
    "gate -> stratified language rebalance -> token-budget sequence "
    "packing, in one plan. Two shuffles total (fingerprint window, "
    "per-shard packing window); every filter between them is map-side. "
    "The regex-heavy fingerprint/quality/token counts are materialized "
    "in one scan projection, each evaluated once (CollapseProject keeps "
    "non-cheap exprs from being inlined into their consumers).",
)
def txt_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from sentiflow_spark.functions.hashing import md5_i32
    from sentiflow_spark.functions.text import (
        fingerprint,
        quality_components,
        quality_from_components,
    )

    docs = load(spark, sf_dir, "documents")
    comps = quality_components(F.col("text"))
    s1 = docs.select(
        "doc_id",
        "lang",
        fingerprint(F.col("text")).alias("fp"),
        token_count(F.col("text")).alias("n_tokens"),
        *[c.alias(k) for k, c in comps.items()],
    )
    w_fp = W.partitionBy("fp").orderBy("doc_id")
    dedup = s1.withColumn("rn", F.row_number().over(w_fp)).filter(
        F.col("rn") == 1
    )
    quality = quality_from_components(
        F.col("n_chars"), F.col("n_words"), F.col("n_punct"), F.col("n_stop")
    )
    rate = (
        F.when(F.col("lang") == "en", 250)
        .when(F.col("lang") == "zh", 1000)
        .otherwise(600)
    )
    strat = md5_i32(
        F.concat(F.lit("strat42:"), F.col("doc_id").cast("string"))
    ) % 1000
    kept = (
        dedup.withColumn("quality", quality)
        .filter(F.col("quality") >= 0.5)
        .filter(strat < rate)
    )
    w_pack = (
        W.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        kept.withColumn("cum", F.sum("n_tokens").over(w_pack))
        .select(
            "doc_id",
            "lang",
            "quality",
            "n_tokens",
            F.expr(f"(cum - n_tokens) div {SEQ_BUDGET}").alias("seq_id"),
        )
    )


@register(
    "txt_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({duck_word_tokens("text")}) AS term
      FROM documents
    ),
    uni AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
    tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM uni),
    scored AS (
      SELECT t.doc_id,
             CAST(round(ln(CAST(u.cnt AS DOUBLE) / s.total), 6)
                  AS DECIMAL(18,6)) AS logp
      FROM toks t JOIN uni u USING (term) CROSS JOIN tot s
    )
    SELECT doc_id, n_tokens, avg_logp FROM (
      SELECT doc_id, COUNT(*) AS n_tokens,
             round(CAST(SUM(logp) AS DOUBLE) / COUNT(*), 3) AS avg_logp
      FROM scored GROUP BY doc_id
    )
    """,
    tags=("text", "M5", "curation", "quality"),
    doc="Unigram-LM quality proxy: per-document mean token log-"
    "probability under the corpus's own unigram distribution — the "
    "cheap stand-in for the KenLM-perplexity filter every pretraining "
    "curation stack runs (gibberish and boilerplate score far from "
    "the corpus mode). Two partial-agg shuffles build the unigram "
    "table (vocab-sized) and the per-doc aggregate; the token→unigram "
    "join is AQE-planned (broadcast while the vocab fits, skew-split "
    "shuffle otherwise — same de-skewed df shape as ret_tfidf_topk). "
    "Per-token log-probs are quantized FINE (1e-6, DECIMAL-summed "
    "exactly) and the final mean is rounded COARSE (1e-3): a 1-ulp "
    "ln() wobble moves the exact sum by at most 1e-6, far from any "
    "1e-3 boundary of the mean — rounding per-token at the same "
    "granularity as the output let a single boundary-straddling "
    "token flip the result (caught by the sf0.1 sweep).",
)
def txt_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(word_tokens(F.col("text"))).alias("term"))
    uni = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    tot = uni.agg(F.sum("cnt").cast("double").alias("total"))
    scored = (
        toks.join(uni, "term")
        .join(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(F.log(F.col("cnt").cast("double") / F.col("total")), 6)
            .cast("decimal(18,6)")
            .alias("logp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("logp").cast("double") / F.count(F.lit(1)), 3).alias("avg_logp"),
        )
        .select("doc_id", "n_tokens", "avg_logp")
    )


CHUNK_CHARS = 200
CHUNK_STRIDE = 150


@register(
    "txt_chunk_sliding",
    oracle=f"""
    WITH spans AS (
      SELECT doc_id, n_chars,
             unnest(generate_series(0,
               greatest(CAST(ceil(CAST(greatest(n_chars - {CHUNK_CHARS}, 0) AS DOUBLE)
                                  / {CHUNK_STRIDE}) AS BIGINT), 0))) AS chunk_idx
      FROM documents
    )
    SELECT s.doc_id, s.chunk_idx,
           substring(d.text, CAST(s.chunk_idx * {CHUNK_STRIDE} + 1 AS INTEGER),
                     {CHUNK_CHARS}) AS chunk_text,
           length(substring(d.text, CAST(s.chunk_idx * {CHUNK_STRIDE} + 1 AS INTEGER),
                            {CHUNK_CHARS})) AS chunk_len
    FROM spans s JOIN documents d USING (doc_id)
    """,
    tags=("text", "M5", "curation", "chunking"),
    doc=f"Sliding-window document chunking: {CHUNK_CHARS}-char chunks "
    f"at {CHUNK_STRIDE}-char stride ({CHUNK_CHARS - CHUNK_STRIDE}-char "
    "overlap), the splitter feeding context-window-bounded training "
    "and retrieval corpora. chunk count per doc is "
    "ceil(max(len-chunk,0)/stride)+1, so every character lands in ≥1 "
    "chunk and offsets are a pure function of (doc_id, chunk_idx) — "
    "reconstructable provenance. Map-side sequence+explode+substring; "
    "no shuffle, output volume = corpus × (chunk/stride) overlap "
    "factor, the workload's intrinsic expansion.",
)
def txt_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n_extra = F.ceil(
        F.greatest(F.col("n_chars") - CHUNK_CHARS, F.lit(0)).cast("double")
        / CHUNK_STRIDE
    ).cast("long")
    spans = docs.select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0), F.greatest(n_extra, F.lit(0)))).alias("chunk_idx"),
    )
    chunk = F.substring(
        F.col("text"), (F.col("chunk_idx") * CHUNK_STRIDE + 1).cast("int"), CHUNK_CHARS
    )
    return spans.select(
        "doc_id",
        "chunk_idx",
        chunk.alias("chunk_text"),
        F.length(chunk).alias("chunk_len"),
    )


PMI_MAX_DIST = 3
PMI_MIN_PAIR = 5


@register(
    "txt_cooccur_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({duck_word_tokens("text")}) AS term,
             generate_subscripts({duck_word_tokens("text")}, 1) AS pos
      FROM documents
    ),
    uni AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
    tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS n FROM uni),
    pairs AS (
      SELECT CASE WHEN a.term <= b.term THEN a.term ELSE b.term END AS w1,
             CASE WHEN a.term <= b.term THEN b.term ELSE a.term END AS w2,
             COUNT(*) AS n_pair
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos BETWEEN a.pos + 1 AND a.pos + {PMI_MAX_DIST}
      WHERE a.term <> b.term
      GROUP BY 1, 2
    )
    SELECT w1, w2, n_pair,
           round(ln(CAST(n_pair AS DOUBLE) * (SELECT n FROM tot)
                    / (CAST(u1.cnt AS DOUBLE) * u2.cnt)), 4) AS pmi
    FROM pairs
    JOIN uni u1 ON u1.term = w1
    JOIN uni u2 ON u2.term = w2
    WHERE n_pair >= {PMI_MIN_PAIR}
    """,
    tags=("text", "M5", "analytics"),
    doc=f"Co-occurrence PMI: unordered token pairs within a "
    f"{PMI_MAX_DIST}-token window, scored ln(P(a,b)/P(a)P(b)) against "
    "the corpus unigram model — the collocation/phrase-mining table a "
    "corpus-analytics pass produces. The window join is an EQUI-join "
    "on (doc_id, pos+δ) per offset δ (union of three shifted copies), "
    "never a non-equi position join — bounded fan-out of "
    f"{PMI_MAX_DIST}× per token at any corpus size; unigram/total "
    "tables join in via AQE (broadcast while the vocab fits).",
)
def txt_cooccur_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(word_tokens(F.col("text"))).alias("pos0", "term"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    # pinned: the positional postings have 2 + PMI_MAX_DIST consumers
    # (unigram counts, each shifted union leg, the join's right side),
    # and the unigram table another three (total, both count joins) —
    # unpinned, every one re-ran the tokenize+posexplode from the scan
    # (7 visible scans in the plan; r12, guide §5 compute-once)
    toks = toks.localCheckpoint(eager=False)
    uni = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = uni.agg(F.sum("cnt").cast("double").alias("n"))
    shifted = None
    for delta in range(1, PMI_MAX_DIST + 1):
        s = toks.select(
            "doc_id", (F.col("pos") + delta).alias("pos"), F.col("term").alias("term_a")
        )
        shifted = s if shifted is None else shifted.unionByName(s)
    joined = shifted.join(toks, ["doc_id", "pos"]).filter(
        F.col("term_a") != F.col("term")
    )
    w1 = F.when(F.col("term_a") <= F.col("term"), F.col("term_a")).otherwise(F.col("term"))
    w2 = F.when(F.col("term_a") <= F.col("term"), F.col("term")).otherwise(F.col("term_a"))
    pairs = (
        joined.select(w1.alias("w1"), w2.alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= PMI_MIN_PAIR)
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("cnt").alias("cnt1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("cnt").alias("cnt2"))
    return (
        pairs.join(u1, "w1")
        .join(u2, "w2")
        .join(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_pair",
            F.round(
                F.log(
                    F.col("n_pair").cast("double")
                    * F.col("n")
                    / (F.col("cnt1").cast("double") * F.col("cnt2"))
                ),
                4,
            ).alias("pmi"),
        )
    )
