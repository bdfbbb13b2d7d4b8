"""Expression-surface extensions beyond the reference's §2.8 inventory:
statistical aggregates, bitwise/boolean aggregates, unpivot/melt,
higher-order array functions, positional explode, and URL parsing.

The reference has none of these (SURVEY.md §2.8 "no math beyond
comparison"); they are declared-in-scope Spark built-ins (§7.2 M2) that
a training-data pipeline leans on constantly (column profiling, flag
packing, wide→long reshapes, token-array manipulation without explode
shuffles, URL provenance extraction).

Determinism notes (registry docstring rules apply):

- Float statistical aggregates (corr/var/covar/regr_*) are NOT
  order-deterministic across engines, and even a shared closed-form
  formula is not bit-stable because DECIMAL→DOUBLE casting itself
  rounds differently (DuckDB divides an int128 mantissa by 10^scale in
  double — two roundings; Spark's BigDecimal.doubleValue rounds once;
  measured 1–4 ulp divergence). So the oracle-checked *values* are the
  exact DECIMAL power sums (order-free, bit-exact in both engines),
  and each engine's built-in is checked against the closed-form
  formula computed from those sums with a relative-tolerance BOOLEAN —
  the same pattern the approx-sketch queries use.
- Higher-order functions keep token arrays inside the row (no explode
  shuffle): at 100 TB, `aggregate`/`transform` over an array column is
  a narrow map, vs explode → groupBy which shuffles every token.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentiflow_spark.functions.text import duck_word_tokens, word_tokens
from sentiflow_spark.queries.registry import register
from sentiflow_spark.tables import load

_REL_TOL = "1e-6"


@register(
    "rel_stats_agg",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
             SUM(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy,
             corr(l_quantity, l_extendedprice) AS bi_corr,
             var_samp(l_extendedprice) AS bi_var,
             covar_samp(l_quantity, l_extendedprice) AS bi_cov,
             regr_slope(l_extendedprice, l_quantity) AS bi_slope
      FROM lineitem GROUP BY l_returnflag),
    d AS (
      SELECT l_returnflag, n, sx, sy, sxx, syy, sxy,
             bi_corr, bi_var, bi_cov, bi_slope,
             CAST(n AS DOUBLE) AS nd,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
             CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
             CAST(sxy AS DOUBLE) AS sxyd
      FROM s),
    fm AS (
      SELECT l_returnflag, n, sx, sy, sxx, syy, sxy,
             bi_corr, bi_var, bi_cov, bi_slope,
             ((nd * sxyd) - (sxd * syd))
               / (sqrt((nd * sxxd) - (sxd * sxd))
                  * sqrt((nd * syyd) - (syd * syd))) AS corr_f,
             ((nd * syyd) - (syd * syd)) / (nd * (nd - 1.0)) AS var_f,
             ((nd * sxyd) - (sxd * syd)) / (nd * (nd - 1.0)) AS cov_f,
             ((nd * sxyd) - (sxd * syd))
               / ((nd * sxxd) - (sxd * sxd)) AS slope_f
      FROM d)
    SELECT l_returnflag, n,
           CAST(sx AS VARCHAR) AS sx, CAST(sy AS VARCHAR) AS sy,
           CAST(sxx AS VARCHAR) AS sxx, CAST(syy AS VARCHAR) AS syy,
           CAST(sxy AS VARCHAR) AS sxy,
           abs(bi_corr - corr_f)
             < {_REL_TOL} * (abs(corr_f) + 1.0) AS corr_builtin_ok,
           abs(bi_var - var_f)
             < {_REL_TOL} * (abs(var_f) + 1.0) AS var_builtin_ok,
           abs(bi_cov - cov_f)
             < {_REL_TOL} * (abs(cov_f) + 1.0) AS cov_builtin_ok,
           abs(bi_slope - slope_f)
             < {_REL_TOL} * (abs(slope_f) + 1.0) AS slope_builtin_ok
    FROM fm
    """,
    tags=("relational", "aggregate", "stats"),
    doc="Statistical aggregates (corr/var_samp/covar_samp/regr_slope) "
    "per group. Oracle-checked values are the exact DECIMAL power sums "
    "(order-free, bit-exact cross-engine); each built-in is verified "
    "against the closed-form formula from those sums with a "
    "relative-tolerance boolean (float aggs and even DECIMAL→DOUBLE "
    "casts are not cross-engine bit-deterministic — see module doc). "
    "Single shuffle: one partial+final hash aggregate computes all ten "
    "aggregates.",
)
def rel_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
        F.corr("l_quantity", "l_extendedprice").alias("bi_corr"),
        F.var_samp("l_extendedprice").alias("bi_var"),
        F.covar_samp("l_quantity", "l_extendedprice").alias("bi_cov"),
        F.regr_slope(F.col("l_extendedprice"), F.col("l_quantity")).alias("bi_slope"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, syyd = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxyd = F.col("sxy").cast("double")
    corr_f = ((nd * sxyd) - (sxd * syd)) / (
        F.sqrt((nd * sxxd) - (sxd * sxd)) * F.sqrt((nd * syyd) - (syd * syd))
    )
    var_f = ((nd * syyd) - (syd * syd)) / (nd * (nd - F.lit(1.0)))
    cov_f = ((nd * sxyd) - (sxd * syd)) / (nd * (nd - F.lit(1.0)))
    slope_f = ((nd * sxyd) - (sxd * syd)) / ((nd * sxxd) - (sxd * sxd))
    tol = F.lit(float(_REL_TOL))
    fm = g.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        "sxx",
        "syy",
        "sxy",
        corr_f.alias("corr_f"),
        var_f.alias("var_f"),
        cov_f.alias("cov_f"),
        slope_f.alias("slope_f"),
        "bi_corr",
        "bi_var",
        "bi_cov",
        "bi_slope",
    )
    ok = lambda b, f: (F.abs(F.col(b) - F.col(f)) < tol * (F.abs(F.col(f)) + 1.0))
    # exact DECIMAL sums ship as strings: raw Decimal cells land in an
    # object-dtype pandas column on the Spark side vs float64 on the
    # DuckDB side, which the driver's pandas canon flags (registry
    # determinism rule #1 applies to the OUTPUT representation too)
    return fm.select(
        "l_returnflag",
        "n",
        F.col("sx").cast("string").alias("sx"),
        F.col("sy").cast("string").alias("sy"),
        F.col("sxx").cast("string").alias("sxx"),
        F.col("syy").cast("string").alias("syy"),
        F.col("sxy").cast("string").alias("sxy"),
        ok("bi_corr", "corr_f").alias("corr_builtin_ok"),
        ok("bi_var", "var_f").alias("var_builtin_ok"),
        ok("bi_cov", "cov_f").alias("cov_builtin_ok"),
        ok("bi_slope", "slope_f").alias("slope_builtin_ok"),
    )


@register(
    "rel_bitwise_agg",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           bit_and(o_orderkey) AS key_and,
           bit_or(o_orderkey) AS key_or,
           bit_xor(o_orderkey) AS key_xor,
           bool_and(o_totalprice > 1000.0) AS all_over_1k,
           bool_or(o_totalprice > 200000.0) AS any_over_200k
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("relational", "aggregate", "bitwise"),
    doc="Bitwise and boolean aggregates (bit_and/bit_or/bit_xor, "
    "bool_and/bool_or) — integer/boolean lattices are commutative and "
    "associative, so partial aggregation is exact and order-free; the "
    "flag-packing primitive for 100 TB column profiling.",
)
def rel_bitwise_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_and("o_orderkey").alias("key_and"),
        F.bit_or("o_orderkey").alias("key_or"),
        F.bit_xor("o_orderkey").alias("key_xor"),
        F.bool_and(F.col("o_totalprice") > 1000.0).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 200000.0).alias("any_over_200k"),
    )


@register(
    "rel_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS attr, CAST(p_size AS DOUBLE) AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val
    FROM part
    """,
    tags=("relational", "reshape"),
    doc="Unpivot / melt (wide→long reshape) via DataFrame.unpivot — a "
    "narrow per-row expansion (Generate, no shuffle); the oracle states "
    "the same reshape as UNION ALL. Column-profiling over thousands of "
    "columns at 100 TB uses exactly this: one scan, long-form output.",
)
def rel_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    wide = part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").alias("p_retailprice"),
    )
    return wide.unpivot("p_partkey", ["p_size", "p_retailprice"], "attr", "val")


@register(
    "txt_higher_order",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {duck_word_tokens("text")} AS words
      FROM documents)
    SELECT doc_id,
           array_to_string(
             list_transform(list_slice(words, 1, 5), x -> upper(x)), ','
           ) AS up5,
           CAST(len(list_filter(words, x -> length(x) > 6)) AS INTEGER)
             AS n_long,
           len(list_filter(words, x -> x = 'the')) > 0 AS has_the,
           len(list_filter(words, x -> NOT (length(x) < 20))) = 0
             AS all_short,
           CAST(list_sum(list_transform(words, x -> length(x))) AS BIGINT)
             AS total_len,
           array_to_string(
             list_transform(list_slice(words, 1, 3), x -> x || '|' || x), ','
           ) AS zipped
    FROM w
    """,
    tags=("text", "expression", "higher-order"),
    doc="Higher-order array functions: transform / filter / exists / "
    "forall / aggregate / zip_with over the token array. All narrow "
    "per-row ops — the scale-path alternative to explode→groupBy, "
    "which would shuffle every token of a 100 TB corpus.",
)
def txt_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Materialize the regex extraction once (CollapseProject duplicates
    # inlined expressions per reference — see shingles_from_tokens).
    toks = docs.select("doc_id", word_tokens(F.col("text")).alias("words"))
    w = F.col("words")
    head3 = F.slice(w, 1, 3)
    return toks.select(
        "doc_id",
        # higher-order results ship comma-joined — list cells crash the
        # driver's pandas canon (see ret_build_index in CORRECTNESS_r03)
        F.array_join(
            F.transform(F.slice(w, 1, 5), lambda x: F.upper(x)), ","
        ).alias("up5"),
        F.size(F.filter(w, lambda x: F.length(x) > 6)).alias("n_long"),
        F.exists(w, lambda x: x == F.lit("the")).alias("has_the"),
        F.forall(w, lambda x: F.length(x) < 20).alias("all_short"),
        F.aggregate(
            w, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        ).alias("total_len"),
        F.array_join(
            F.zip_with(head3, head3, lambda a, b: F.concat(a, F.lit("|"), b)),
            ",",
        ).alias("zipped"),
    )


@register(
    "txt_explode_pos",
    oracle="""
    SELECT doc_id, CAST(pos AS INTEGER) AS pos, word,
           CAST(length(word) AS INTEGER) AS wlen
    FROM (
      SELECT doc_id,
             generate_subscripts(w, 1) - 1 AS pos,
             unnest(w) AS word
      FROM (SELECT doc_id, list_slice(string_split(text, ' '), 1, 4) AS w
            FROM documents))
    """,
    tags=("text", "expression", "generate"),
    doc="Positional explode (posexplode → Generate) of the leading "
    "words of each document; 0-based positions match DuckDB's "
    "generate_subscripts - 1. Generate is narrow — rows expand in "
    "place, no shuffle.",
)
def txt_explode_pos(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sliced = docs.select(
        "doc_id", F.slice(F.split(F.col("text"), " "), 1, 4).alias("w")
    )
    exploded = sliced.select("doc_id", F.posexplode("w").alias("pos", "word"))
    return exploded.select(
        "doc_id", "pos", "word", F.length("word").cast("int").alias("wlen")
    )


@register(
    "txt_url_funcs",
    oracle="""
    SELECT doc_id,
           'https' AS proto,
           source || '.example.com' AS host,
           '/' || lang || '/doc/' || CAST(doc_id AS VARCHAR) AS path,
           'q=' || lang || '&p=1' AS query,
           lang AS q_param,
           'top' AS fragment
    FROM documents
    """,
    tags=("text", "expression", "url"),
    doc="URL parsing (parse_url PROTOCOL/HOST/PATH/QUERY/QUERY-param/"
    "REF) over a synthesized provenance URL; the oracle states the "
    "ground-truth components directly from the generating columns "
    "(E10 surface — the reference builds URLs driver-side, "
    "internal/clients/reddit_client.go:67-85).",
)
def txt_url_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
        F.lit("?q="),
        F.col("lang"),
        F.lit("&p=1#top"),
    )
    u = docs.select("doc_id", url.alias("u"))
    return u.select(
        "doc_id",
        F.parse_url(F.col("u"), F.lit("PROTOCOL")).alias("proto"),
        F.parse_url(F.col("u"), F.lit("HOST")).alias("host"),
        F.parse_url(F.col("u"), F.lit("PATH")).alias("path"),
        F.parse_url(F.col("u"), F.lit("QUERY")).alias("query"),
        F.parse_url(F.col("u"), F.lit("QUERY"), F.lit("q")).alias("q_param"),
        F.parse_url(F.col("u"), F.lit("REF")).alias("fragment"),
    )
