"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship document pipeline (spans → chunks →
embeddings) on sf0.001. ``queries()`` exposes one entry per implemented
operator family from SURVEY.md §2 (+ the training-data operators);
``oracle_sql()`` provides the DuckDB twin for every SQL-expressible one.

Column-name and float-rounding discipline: every computed column is aliased
identically on both sides, and every float produced by arithmetic is
round(·, 4..6) on both sides so the order-insensitive value hash matches.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from azure_blob_crawler_spark import config
from azure_blob_crawler_spark.functions import text as TXT
from azure_blob_crawler_spark.functions.embedding import make_embed_udf, truncate_for_embedding
from azure_blob_crawler_spark.functions.urls import canonical_url, canonicalize_sql
from azure_blob_crawler_spark.functions.vectors import cosine, cosine_sql
from azure_blob_crawler_spark.operators import dedup as DD
from azure_blob_crawler_spark.operators import query as Q
from azure_blob_crawler_spark.operators import similarity as SIM
from azure_blob_crawler_spark.operators.chunker import make_chunk_doc_udf
from azure_blob_crawler_spark.operators.extraction import with_extraction
from azure_blob_crawler_spark.sources.synthetic import documents_with_spans

EMBED_DIM = config.TEST_EMBEDDING_DIM  # = the testdata embeddings dim (64)


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _scratch_dir(prefix: str) -> str:
    """Throwaway store dir for a contract query's index build, reaped at
    process exit (round-4 verdict item 7: bm25idx_*/hybidx_* temp dirs
    used to accumulate across driver/bench runs)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


# ---------------------------------------------------------------------------
# flagship pipeline
# ---------------------------------------------------------------------------


def _doc_chunks(
    spark: SparkSession, sf_dir: str, max_tokens: int = 64, embed: bool = True
) -> DataFrame:
    """documents → interleaved spans → extraction → chunking → embedding.

    Small ``max_tokens`` because the synthetic docs are short; the budget
    path is what the reference exercises at 4000 (chunking.py:58-121).
    ``embed=False`` skips the embedding UDF for text-only consumers (BM25)."""
    docs = with_extraction(documents_with_spans(spark, sf_dir))
    chunker = make_chunk_doc_udf(max_tokens=max_tokens, overlap_tokens=8)
    out = (
        docs.filter(F.trim("full_content") != "")
        .select(
            "doc_id",
            F.posexplode(chunker("pages", "full_content", "use_pages")).alias(
                "chunk_index", "content"
            ),
        )
        .withColumn("chunk_id", F.concat_ws("_", "doc_id", F.lit("chunk"), "chunk_index"))
        .withColumn("n_tokens", TXT.token_count(F.col("content")))
    )
    if embed:
        out = out.withColumn(
            "vector", make_embed_udf(EMBED_DIM)(truncate_for_embedding(F.col("content")))
        )
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full document pipeline at sf0.001 + top-k hybrid query."""
    chunks = _doc_chunks(spark, "/root/testdata/sf0.001")
    return Q.run_query(
        chunks, query_text="spark merge shuffle", search_type="hybrid",
        top=25, embed_dim=EMBED_DIM,
    )


# ---------------------------------------------------------------------------
# synthetic URL column shared by the crawl-shaped oracle queries (built from
# documents.doc_id identically on both engines)
# ---------------------------------------------------------------------------

_URL_SQL = (
    "'https://Host' || cast(doc_id % 50 as varchar) || '.Example.COM:443/p/./x' "
    "|| cast(doc_id as varchar) || '/../d' || cast(doc_id as varchar) "
    "|| case when doc_id % 3 = 0 then '.txt' when doc_id % 3 = 1 then '.pdf' "
    "else '.bin' end || '#frag'"
)

# the same URL with an unsorted query string (exercises the opt-in
# query-param sort tier of q_url_canonicalize)
_URL_Q_SQL = (
    "'https://Host' || cast(doc_id % 50 as varchar) || '.Example.COM:443/p/./x' "
    "|| cast(doc_id as varchar) || '/../d' || cast(doc_id as varchar) "
    "|| case when doc_id % 3 = 0 then '.txt' when doc_id % 3 = 1 then '.pdf' "
    "else '.bin' end || '?z=1&a=' || cast(doc_id as varchar) || '&m=2&a=0#frag'"
)


def _url_col() -> F.Column:
    ext = (
        F.when(F.col("doc_id") % 3 == 0, ".txt")
        .when(F.col("doc_id") % 3 == 1, ".pdf")
        .otherwise(".bin")
    )
    return F.concat(
        F.lit("https://Host"), (F.col("doc_id") % 50).cast("string"),
        F.lit(".Example.COM:443/p/./x"), F.col("doc_id").cast("string"),
        F.lit("/../d"), F.col("doc_id").cast("string"), ext, F.lit("#frag"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- relational core (SURVEY.md §2.2-2.7 driver-contract ops) ---

    def q1_pricing_summary(spark, d):
        li = T(spark, d, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        return (
            li.groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
                F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
                ).alias("sum_disc_price"),
                F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                F.count("*").alias("count_order"),
            )
        )

    q["q1_pricing_summary"] = q1_pricing_summary

    def q3_shipping_priority(spark, d):
        c = T(spark, d, "customer").filter(F.col("c_mktsegment") == "BUILDING")
        o = T(spark, d, "orders").filter(F.col("o_orderdate") < F.lit("1998-01-01"))
        li = T(spark, d, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-01-01"))
        return (
            c.join(o, c.c_custkey == o.o_custkey)
            .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
                ).alias("revenue")
            )
            .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
            .limit(10)
        )

    q["q3_shipping_priority"] = q3_shipping_priority

    def q5_supplier_volume(spark, d):
        return (
            T(spark, d, "region")
            .join(T(spark, d, "nation"), F.col("n_regionkey") == F.col("r_regionkey"))
            .join(T(spark, d, "customer"), F.col("c_nationkey") == F.col("n_nationkey"))
            .join(T(spark, d, "orders"), F.col("o_custkey") == F.col("c_custkey"))
            .join(T(spark, d, "lineitem"), F.col("l_orderkey") == F.col("o_orderkey"))
            .join(
                T(spark, d, "supplier"),
                (F.col("s_suppkey") == F.col("l_suppkey"))
                & (F.col("s_nationkey") == F.col("c_nationkey")),
            )
            .groupBy("r_name", "n_name")
            .agg(
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
                ).alias("revenue")
            )
        )

    q["q5_supplier_volume"] = q5_supplier_volume

    def q_window_rank(spark, d):
        w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        return (
            T(spark, d, "orders")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("o_custkey", "o_orderkey", "rk")
        )

    q["q_window_rank"] = q_window_rank

    def q_events_lag(spark, d):
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ev = T(spark, d, "events").withColumn(
            "diff", F.col("value") - F.lag("value").over(w)
        )
        return ev.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("diff"), 4).alias("sum_diff"),
        )

    q["q_events_lag"] = q_events_lag

    def q_events_tumbling(spark, d):
        ev = T(spark, d, "events")
        return (
            ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
                "event_type", "n", "sum_value",
            )
        )

    q["q_events_tumbling"] = q_events_tumbling

    def q_rollup(spark, d):
        return (
            T(spark, d, "region")
            .join(T(spark, d, "nation"), F.col("n_regionkey") == F.col("r_regionkey"))
            .join(T(spark, d, "customer"), F.col("c_nationkey") == F.col("n_nationkey"))
            .rollup("r_name", "n_name")
            .agg(F.count("*").alias("n_cust"), F.round(F.sum("c_acctbal"), 4).alias("sum_bal"))
            .select(
                F.coalesce("r_name", F.lit("ALL")).alias("r"),
                F.coalesce("n_name", F.lit("ALL")).alias("n"),
                "n_cust", "sum_bal",
            )
        )

    q["q_rollup"] = q_rollup

    def q_setops(spark, d):
        """Distinct set ops (union/intersect/except) AND multiset exceptAll
        multiplicities in one tagged result — one contract row covers §2.7.
        (Merged with the former q_multiset_ops: the driver records at most
        50 queries, so near-duplicate coverage is consolidated.)"""
        c = T(spark, d, "customer")
        o = T(spark, d, "orders")
        building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
        with_orders = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey")
        rich = c.filter(F.col("c_acctbal") >= 100).select("c_custkey")
        machinery_no_orders = (
            c.filter(F.col("c_mktsegment") == "MACHINERY")
            .join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey")
        )
        dist = (
            building.intersect(with_orders).exceptAll(rich).distinct().union(machinery_no_orders).distinct()
        )
        open_o = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
        urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
        multiset = open_o.exceptAll(urgent).groupBy("o_custkey").agg(
            F.count("*").alias("multiplicity")
        )
        return dist.select(
            F.lit("distinct_ops").alias("op"),
            F.col("c_custkey").cast("long").alias("custkey"),
            F.lit(1).cast("long").alias("multiplicity"),
        ).unionByName(
            multiset.select(
                F.lit("except_all").alias("op"),
                F.col("o_custkey").cast("long").alias("custkey"),
                F.col("multiplicity").cast("long").alias("multiplicity"),
            )
        )

    q["q_setops"] = q_setops

    def q_semi_anti_counts(spark, d):
        c, o, n = T(spark, d, "customer"), T(spark, d, "orders"), T(spark, d, "nation")
        semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        s = semi.groupBy("c_nationkey").agg(F.count("*").alias("n_with_orders")).withColumnRenamed("c_nationkey", "nk_s")
        a = anti.groupBy("c_nationkey").agg(F.count("*").alias("n_without_orders")).withColumnRenamed("c_nationkey", "nk_a")
        return (
            n.join(s, n.n_nationkey == s.nk_s, "left")
            .join(a, n.n_nationkey == a.nk_a, "left")
            .select(
                "n_name",
                F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
                F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
            )
        )

    q["q_semi_anti_counts"] = q_semi_anti_counts

    def q_topk_orders(spark, d):
        return (
            T(spark, d, "orders")
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(10)
            .select(
                "o_orderkey", "o_custkey", "o_totalprice",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            )
        )

    q["q_topk_orders"] = q_topk_orders

    def q_filter_project(spark, d):
        """Filter+projection with pushdown, sequenced by the distributed
        global-numbering operator (operators/sequence.py) — value-checks
        assign_global_seq against SQL row_number() in DuckDB."""
        from azure_blob_crawler_spark.operators.sequence import assign_global_seq

        base = (
            T(spark, d, "part")
            .filter((F.col("p_size").between(10, 30)) & (F.col("p_type") == "ECONOMY"))
            .select("p_partkey", "p_name", "p_retailprice")
        )
        return assign_global_seq(base, ["p_partkey"], "seq")

    q["q_filter_project"] = q_filter_project

    def q_distinct_agg(spark, d):
        s, n = T(spark, d, "supplier"), T(spark, d, "nation")
        return (
            n.join(s, s.s_nationkey == n.n_nationkey, "left")
            .groupBy("n_name")
            .agg(
                F.countDistinct("s_suppkey").alias("n_suppliers"),
                F.round(F.avg("s_acctbal"), 4).alias("avg_bal"),
            )
        )

    q["q_distinct_agg"] = q_distinct_agg

    def q_cube(spark, d):
        return (
            T(spark, d, "orders")
            .cube("o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("sum_price"))
            .select(
                F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
                F.coalesce("o_orderpriority", F.lit("ALL")).alias("prio"),
                "n", "sum_price",
            )
        )

    q["q_cube"] = q_cube

    def q_subqueries(spark, d):
        """EXISTS-semi and NOT-IN-anti subquery rewrites in one tagged
        result (merged q_exists_subquery + q_in_subquery_anti: the driver
        records at most 50 queries). Float acctbal is carried as integer
        cents so the string val column is formatting-stable cross-engine."""
        c = T(spark, d, "customer")
        big = T(spark, d, "orders").filter(F.col("o_totalprice") > 400_000).select("o_custkey")
        exists_leg = c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
            F.lit("exists_semi").alias("tag"),
            F.col("c_custkey").cast("long").alias("key"),
            F.round(F.col("c_acctbal") * 100).cast("long").cast("string").alias("val"),
        )
        p = T(spark, d, "part")
        li = T(spark, d, "lineitem").filter(F.col("l_quantity") > 45).select("l_partkey")
        anti_leg = p.join(li, p.p_partkey == li.l_partkey, "left_anti").select(
            F.lit("in_anti").alias("tag"),
            F.col("p_partkey").cast("long").alias("key"),
            F.col("p_name").alias("val"),
        )
        return exists_leg.unionByName(anti_leg)

    q["q_subqueries"] = q_subqueries

    def q_string_funcs(spark, d):
        s = T(spark, d, "supplier")
        return s.select(
            "s_suppkey",
            F.upper("s_name").alias("uname"),
            F.substring("s_name", 1, 4).alias("prefix"),
            F.concat_ws("|", "s_name", F.lower("s_name")).alias("joined"),
            F.regexp_replace("s_name", "[aeiou]", "_").alias("devowel"),
            F.length("s_name").alias("namelen"),
            F.substring_index("s_name", "#", -1).alias("tail"),
        )

    q["q_string_funcs"] = q_string_funcs

    def q_date_funcs(spark, d):
        o = T(spark, d, "orders")
        return (
            o.groupBy(
                F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
                F.year("o_orderdate").alias("yr"),
                F.quarter("o_orderdate").alias("qtr"),
            )
            .agg(F.count("*").alias("n"), F.round(F.avg("o_totalprice"), 4).alias("avg_price"))
        )

    q["q_date_funcs"] = q_date_funcs

    def q_conditional_agg(spark, d):
        li = T(spark, d, "lineitem")
        return li.groupBy("l_linestatus").agg(
            F.round(
                F.sum(F.when(F.col("l_returnflag") == "R", F.col("l_quantity")).otherwise(0.0)),
                4,
            ).alias("returned_qty"),
            F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0)).alias("n_discounted"),
            F.count("*").alias("n"),
        )

    q["q_conditional_agg"] = q_conditional_agg

    def q_having(spark, d):
        return (
            T(spark, d, "orders")
            .groupBy("o_custkey")
            .agg(F.count("*").alias("n_orders"))
            .filter(F.col("n_orders") >= 10)
        )

    q["q_having"] = q_having

    def q_sessionize(spark, d):
        ev = T(spark, d, "events")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        marked = ev.withColumn(
            "new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
        )
        return marked.groupBy("user_id").agg(
            F.sum("new_session").alias("n_sessions"), F.count("*").alias("n_events")
        )

    q["q_sessionize"] = q_sessionize

    def q_json_extract(spark, d):
        """JSON scalar extraction (reference flattens JSON during extraction,
        file_extractor.py:206-234; here the typed path: parse + aggregate)."""
        ev = T(spark, d, "events")
        k = F.get_json_object("props", "$.k").cast("int")
        return ev.groupBy("event_type").agg(
            F.round(F.avg(k), 4).alias("avg_k"),
            F.max(k).alias("max_k"),
            F.count("*").alias("n"),
        )

    q["q_json_extract"] = q_json_extract

    def q_math_funcs(spark, d):
        p = T(spark, d, "part")
        return p.select(
            "p_partkey",
            F.round(F.sqrt("p_retailprice"), 6).alias("sq"),
            F.round(F.log("p_retailprice"), 6).alias("ln_price"),
            F.round(F.pow(F.col("p_size").cast("double"), 2.0), 4).alias("size_sq"),
            F.abs(F.col("p_size") - 25).alias("size_dev"),
            F.pmod(F.col("p_partkey"), F.lit(7)).alias("k7"),
        )

    q["q_math_funcs"] = q_math_funcs

    def q_array_funcs(spark, d):
        emb = T(spark, d, "embeddings")
        v = F.col("embedding")
        head = F.slice(v, 1, 8)
        return emb.select(
            "vec_id",
            F.size(v).alias("dim"),
            F.round(
                F.aggregate(head, F.lit(0.0), lambda a, x: a + x.cast("double")), 6
            ).alias("head_sum"),
            F.round(F.array_max(v).cast("double"), 6).alias("vmax"),
            F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        )

    q["q_array_funcs"] = q_array_funcs

    # --- crawl-shaped ops (§2.2 projections, §2.1 admission) ---

    def q_url_canonicalize(spark, d):
        """Tagged union of both canonicalization tiers: 'plain' (query
        string verbatim) and 'sorted' (opt-in stable query-param sort —
        crawl hygiene so ?b=2&a=1 ≡ ?a=1&b=2 in the frontier)."""
        docs = T(spark, d, "documents")
        sid = F.col("doc_id").cast("string")
        plain = docs.select(
            F.lit("plain").alias("variant"), "doc_id",
            canonical_url(_url_col()).alias("curl"),
        )
        ext = (
            F.when(F.col("doc_id") % 3 == 0, ".txt")
            .when(F.col("doc_id") % 3 == 1, ".pdf")
            .otherwise(".bin")
        )
        url_q = F.concat(
            F.lit("https://Host"), (F.col("doc_id") % 50).cast("string"),
            F.lit(".Example.COM:443/p/./x"), sid, F.lit("/../d"), sid, ext,
            F.lit("?z=1&a="), sid, F.lit("&m=2&a=0#frag"),
        )
        srt = docs.select(
            F.lit("sorted").alias("variant"), "doc_id",
            canonical_url(url_q, sort_query=True).alias("curl"),
        )
        return plain.unionByName(srt)

    q["q_url_canonicalize"] = q_url_canonicalize

    def q_admission_filter(spark, d):
        from azure_blob_crawler_spark.operators.extraction import file_extension

        docs = T(spark, d, "documents").select("doc_id", _url_col().alias("u"))
        canon = docs.select("doc_id", canonical_url("u").alias("curl"))
        return canon.withColumn("ext", file_extension(F.col("curl"))).filter(
            F.col("ext").isin(*config.ALL_SUPPORTED_EXTENSIONS)
        )

    q["q_admission_filter"] = q_admission_filter

    # --- text analysis (training-data ops) ---

    def q_token_stats(spark, d):
        t = T(spark, d, "documents")
        return t.select(
            "doc_id",
            TXT.token_count(F.col("text")).alias("n_tokens"),
            TXT.word_count(F.col("text")).alias("n_words"),
            TXT.sentence_count(F.col("text")).alias("n_sentences"),
        )

    q["q_token_stats"] = q_token_stats

    def q_quality_lang(spark, d):
        t = T(spark, d, "documents")
        return t.select(
            "doc_id",
            TXT.quality_score(F.col("text")).alias("quality"),
            TXT.lang_id(F.col("text")).alias("lang_pred"),
        )

    q["q_quality_lang"] = q_quality_lang

    def q_fingerprint_dedup(spark, d):
        """Both fingerprint tiers in one row-per-doc result: md5 exact-dup
        class stats (count + representative via windows over fp) AND the
        winnowing rolling-hash print set (count/min/max of the selected
        minima) — dialect-paired with winnow_sql."""
        t = T(spark, d, "documents")
        prints = TXT.winnow_fingerprints(F.col("text"))
        base = t.select(
            "doc_id",
            TXT.fingerprint(F.col("text")).alias("fp"),
            F.size(prints).alias("n_prints"),
            F.array_min(prints).alias("min_print"),
            F.array_max(prints).alias("max_print"),
        )
        wfp = Window.partitionBy("fp")
        return base.withColumn("n_docs", F.count("*").over(wfp)).withColumn(
            "rep_doc", F.min("doc_id").over(wfp)
        )

    q["q_fingerprint_dedup"] = q_fingerprint_dedup

    def q_text_match(spark, d):
        t = T(spark, d, "documents")
        toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(TXT.TOKEN_PATTERN), 0)
        tf = lambda term: F.size(F.filter(toks, lambda x: x == term))  # noqa: E731
        return (
            t.select("doc_id", (tf("spark") + tf("merge")).alias("score"))
            .filter(F.col("score") > 0)
        )

    q["q_text_match"] = q_text_match

    def q_word_jaccard_pairs(spark, d):
        t = T(spark, d, "documents").filter(F.col("doc_id") < 50)
        words = lambda c: F.array_distinct(  # noqa: E731
            F.split(F.lower(F.trim(c)), r"\s+")
        )
        a = t.select(F.col("doc_id").alias("id_a"), words(F.col("text")).alias("wa"))
        b = t.select(F.col("doc_id").alias("id_b"), words(F.col("text")).alias("wb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        jac = F.size(F.array_intersect("wa", "wb")) / F.size(F.array_union("wa", "wb"))
        return (
            pairs.withColumn("jac", F.round(jac, 6))
            .filter(F.col("jac") >= 0.3)
            .select("id_a", "id_b", "jac")
        )

    q["q_word_jaccard_pairs"] = q_word_jaccard_pairs

    # --- embeddings / similarity ---

    def q_embedding_topk(spark, d):
        emb = T(spark, d, "embeddings")
        qv = emb.filter(F.col("vec_id") == 1).select("embedding").collect()[0][0]
        out = SIM.brute_force_topk(emb, [float(x) for x in qv], k=10)
        return out.select("vec_id", F.round("score", 6).alias("score"))

    q["q_embedding_topk"] = q_embedding_topk

    def q_embedding_pair_sims(spark, d):
        emb = T(spark, d, "embeddings").filter(F.col("vec_id") < 40)
        a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
        b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        return (
            pairs.withColumn("cos_sim", F.round(cosine(F.col("va"), F.col("vb")), 6))
            .filter(F.col("cos_sim") >= 0.15)
            .select("id_a", "id_b", "cos_sim")
        )

    q["q_embedding_pair_sims"] = q_embedding_pair_sims

    # --- spans / chunker / dedup / search (rows-only where noted) ---

    def q_span_counts(spark, d):
        return documents_with_spans(spark, d).select(
            "doc_id", F.size("spans").alias("n_spans")
        ).withColumn("doc_id", F.col("doc_id").cast("long"))

    q["q_span_counts"] = q_span_counts

    def q_chunk_stats(spark, d):
        """Chunker invariants as oracle-checkable booleans (the exact chunk
        boundaries are UDF logic pinned by 9 pytest behaviors + hypothesis;
        SQL can still VERIFY the per-doc contract): every nonempty doc gets
        ≥1 chunk, every chunk respects budget+overlap (the documented true
        bound, tests/test_property.py), and the chunk set covers the doc
        on WORD counts, because the sentence splitter consumes terminator
        tokens (chunking.py:187 parity) but never drops a word."""
        docs = with_extraction(documents_with_spans(spark, d)).select(
            "doc_id",
            TXT.word_count(F.col("full_content")).alias("doc_words"),
            TXT.token_count(F.col("full_content")).alias("doc_tokens"),
        )
        stats = (
            _doc_chunks(spark, d, embed=False)
            .withColumn("n_words", TXT.word_count(F.col("content")))
            .groupBy("doc_id")
            .agg(
                F.count("*").alias("n_chunks"),
                F.sum("n_words").alias("total_words"),
                F.max("n_tokens").alias("max_chunk_tokens"),
            )
        )
        return (
            docs.join(stats, "doc_id", "left")
            .select(
                F.col("doc_id").cast("long").alias("doc_id"),
                (F.coalesce("n_chunks", F.lit(0)) >= 1).alias("has_chunks"),
                (F.coalesce("max_chunk_tokens", F.lit(0)) <= 64 + 8).alias("within_budget"),
                (F.coalesce("total_words", F.lit(0)) >= F.col("doc_words")).alias(
                    "covers_content"
                ),
                # VALUE-checked fast path: a single-text-span doc (mode 0)
                # within budget must yield exactly one chunk — the oracle
                # computes the same 1/NULL from doc_id and the text alone
                F.when(
                    (F.col("doc_id").cast("long") % 4 == 0) & (F.col("doc_tokens") <= 64),
                    F.col("n_chunks"),
                ).alias("n_chunks_fastpath"),
            )
        )

    q["q_chunk_stats"] = q_chunk_stats

    def q_minhash_dedup(spark, d):
        """FULL minhash near-dup drop, value-oracled: the md5 dialect-paired
        hasher tier lets DuckDB reproduce signatures → identical-signature
        collapse → banded candidates → est-Jaccard losers → anti-join,
        value-for-value (minhash_dedup_sql). The xxhash64 production tier's
        recall is separately oracled by q_minhash_recall."""
        t = T(spark, d, "documents").filter(F.col("doc_id") < 800)
        return DD.minhash_dedup(t, "text", "doc_id", threshold=0.4, hasher="md5").select(
            "doc_id", "lang", "n_chars"
        )

    q["q_minhash_dedup"] = q_minhash_dedup

    def q_minhash_recall(spark, d):
        """Candidate-recall oracle for minhash LSH: every exact-Jaccard pair
        ≥ 0.7 (SQL-computable ground truth over 5-shingles) must appear in
        the LSH candidate set. 32 bands × 2 rows ⇒ per-pair band-miss ≈ 4e-9
        at j=0.7, and the 0.3 estimate gate is >5σ below the j=0.7 mean, so
        the semi-join equals the exact pair list."""
        t = T(spark, d, "documents").filter(F.col("doc_id") < 500)
        sa = t.select(
            F.col("doc_id").alias("id_a"),
            F.array_distinct(DD.shingles(F.col("text"), 5)).alias("sha"),
        )
        sb = t.select(
            F.col("doc_id").alias("id_b"),
            F.array_distinct(DD.shingles(F.col("text"), 5)).alias("shb"),
        )
        jac = F.size(F.array_intersect("sha", "shb")) / F.size(F.array_union("sha", "shb"))
        exact = (
            sa.crossJoin(sb)
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("jac", jac)
            .filter(F.col("jac") >= 0.7)
            .select("id_a", "id_b", F.round("jac", 6).alias("jac"))
        )
        sigs = DD.minhash_signatures(t, "text", "doc_id", n_hashes=64, shingle_k=5)
        cand = DD.minhash_lsh_pairs(sigs, n_bands=32, n_hashes=64, verify_threshold=0.3)
        return exact.join(cand.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")

    q["q_minhash_recall"] = q_minhash_recall

    def q_simhash_pairs(spark, d):
        """COMPLETE hamming-≤8 pair set over md5-derived native simhash
        signatures (dual-dialect: the oracle recomputes the signatures in
        DuckDB and brute-forces the pairs — the banded join must match it
        exactly, which the 9-block pigeonhole guarantees)."""
        sigs = DD.simhash_signatures_native(
            T(spark, d, "documents").filter(F.col("doc_id") < 200), "text", "doc_id"
        )
        return DD.simhash_pairs(sigs, max_hamming=8).select(
            "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
        )

    q["q_simhash_pairs"] = q_simhash_pairs

    def q_embedding_near_dups(spark, d):
        """Banded hyperplane LSH (16×8) vs the brute-force cosine oracle:
        planted exact dups AND any natural ≥0.99 pairs must all surface —
        the oracle is the full exact pair list, so a recall hole fails the
        row (round-1 fix: single-band recall was ~50%)."""
        emb = T(spark, d, "embeddings").select("vec_id", "embedding")
        planted = emb.withColumn("vec_id", F.col("vec_id") + 100_000)
        pairs = DD.embedding_near_dups(
            emb.union(planted), threshold=0.99, dim=EMBED_DIM, n_bands=16, band_bits=8
        )
        return pairs.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))

    q["q_embedding_near_dups"] = q_embedding_near_dups

    def q_bm25_search(spark, d):
        """Full BM25 score set over the documents table from BOTH serving
        tiers as a tagged union — 'scan' (one-shot corpus tokenization,
        operators/query.bm25_scores) and 'index' (persistent postings +
        stats tables maintained by MERGE, operators/search_index) — each
        against the same exact SQL twin in DuckDB (idf/tf-norm formula
        inlined, emitted twice with the tier tag); no top-k so boundary
        ties can't flip membership.

        The index tier is deliberately served off a VACUUMED index at the
        end of a replace/delete history (round-5): the first commit indexes
        an adulterated corpus (1/7 of docs with query-term-bearing junk
        prepended, plus 20 fake docs full of query terms), replacing
        updates + deletes then converge it to the true corpus, and
        vacuum() purges the stale postings. Any stale row surviving the
        vacuum would shift df/n_docs/tf and hash-mismatch the oracle; a
        leftover fake doc would break the row count."""
        from azure_blob_crawler_spark.operators.search_index import TextSearchIndex
        from azure_blob_crawler_spark.sources.store import SnapshotStore

        corpus = T(spark, d, "documents").select(
            F.col("doc_id").cast("string").alias("chunk_id"), F.col("text").alias("content")
        )
        scan = Q.bm25_scores(corpus, "spark merge shuffle")
        idx = TextSearchIndex(
            SnapshotStore(spark, _scratch_dir("bm25idx_")),
            n_term_buckets=8, n_doc_buckets=8,
        )
        adulterated = F.pmod(F.col("chunk_id").cast("long"), F.lit(7)) == 0
        mod = corpus.withColumn(
            "content",
            F.when(
                adulterated, F.concat(F.lit("zzstale spark merge "), F.col("content"))
            ).otherwise(F.col("content")),
        )
        fakes = spark.range(20).select(
            F.concat(F.lit("tmpdoc"), F.col("id").cast("string")).alias("chunk_id"),
            F.lit("spark merge shuffle zzstale shuffle").alias("content"),
        )
        idx.update(mod.unionByName(fakes))
        idx.update(corpus.filter(adulterated))  # replacing → strands old gens
        idx.delete(fakes.select("chunk_id"))    # tombstone-free delete
        idx.vacuum()                            # purge stale, back to one-job serving
        indexed = idx.bm25("spark merge shuffle")
        return scan.select(
            F.lit("scan").alias("tier"), "chunk_id", F.round("score", 4).alias("score")
        ).unionByName(
            indexed.select(
                F.lit("index").alias("tier"), "chunk_id", F.round("score", 4).alias("score")
            )
        )

    q["q_bm25_search"] = q_bm25_search

    def q_hybrid_search(spark, d):
        """RRF fusion: BM25 leg over ALL documents, SERVED FROM the
        persistent postings index (no corpus tokenization in the query
        plan); cosine leg over the embeddings table (query =
        embeddings[vec_id=1]); full-outer fuse so a chunk ranked by either
        leg scores; ranks on round(score, 4) so rank order is
        engine-independent; full SQL twin in DuckDB.

        r6 note: the legs' domains mirror the oracle exactly — the text
        leg ranks the whole documents table, the vector leg the whole
        embeddings table. The r5 implementation ranked both legs over
        documents ⋈ embeddings, which coincides with the oracle only while
        every doc_id carries an embedding (true at sf0.001/0.01, the
        driver-checked SFs) and diverged at sf0.1 (2000 of 5000 docs have
        vectors) — an inherited latent mismatch fixed this round by
        composing the legs directly (the engine changes; the oracle is
        fingerprint-frozen and was already the declared semantics)."""
        from azure_blob_crawler_spark.operators.search_index import TextSearchIndex
        from azure_blob_crawler_spark.sources.store import SnapshotStore

        docs = T(spark, d, "documents").select(
            F.col("doc_id").cast("string").alias("chunk_id"),
            F.col("text").alias("content"),
        )
        idx = TextSearchIndex(
            SnapshotStore(spark, _scratch_dir("hybidx_")),
            n_term_buckets=8, n_doc_buckets=8,
        )
        idx.update(docs)
        emb = T(spark, d, "embeddings")
        qv = emb.filter(F.col("vec_id") == 1).select("embedding").collect()[0][0]
        qvc = F.array(*[F.lit(float(x)) for x in qv])
        tscore = idx.bm25("spark merge shuffle")
        vscore = emb.select(
            F.col("vec_id").cast("string").alias("chunk_id"),
            cosine(F.col("embedding"), qvc).alias("score"),
        )
        t = tscore.select("chunk_id", "score").localCheckpoint(eager=True)
        v = vscore.select("chunk_id", "score").localCheckpoint(eager=True)
        fused = Q.rrf_fuse(t, v, rank_rounding=4)
        return (
            fused.select("chunk_id", F.round("score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("chunk_id"))
            .limit(20)
        )

    q["q_hybrid_search"] = q_hybrid_search

    def q_ivf_topk(spark, d):
        """IVF assign → probe-cell selection → in-cell exact top-k, fully
        value-oracled: centroids are the (normalized) vectors of the eight
        lowest vec_ids, which DuckDB reproduces directly — cosine is
        scale-invariant, so the oracle skips the normalization and the
        argmax assignment/top-3-cell choice still agree (ties break to the
        lowest centroid id in both: numpy argmax keeps the first max). The
        k-means-trained tier stays pinned by the recall tests and the
        all-cells q_ivf_allprobe oracle."""
        import numpy as np

        emb = T(spark, d, "embeddings")
        cent_rows = (
            emb.filter(F.col("vec_id") < 8).orderBy("vec_id").select("embedding").collect()
        )
        cents = np.array([r[0] for r in cent_rows], dtype=np.float64)
        cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-9)
        qv = emb.filter(F.col("vec_id") == 1).select("embedding").collect()[0][0]
        with_cells = SIM.assign_cells(emb, cents)
        return SIM.ivf_topk(with_cells, cents, [float(x) for x in qv], k=10, n_probe=3).select(
            "vec_id", F.round("score", 6).alias("score")
        )

    q["q_ivf_topk"] = q_ivf_topk

    def q_claim_oracle(spark, d):
        """Politeness claim over a documents-derived frontier — the scheduler
        operator checked against pure SQL windows in DuckDB."""
        from azure_blob_crawler_spark.functions.urls import url_hash, url_host
        from azure_blob_crawler_spark.operators.scheduler import claim_round

        docs = T(spark, d, "documents").select("doc_id", _url_col().alias("u"))
        frontier = (
            docs.select(
                canonical_url("u").alias("url"),
                (F.col("doc_id") % 3).cast("int").alias("depth"),
                F.col("doc_id").alias("discovery_seq"),
            )
            .withColumn("host", url_host(F.col("url")))
            .withColumn("url_hash", url_hash(F.col("url")))
            .withColumn("state", F.lit("pending"))
            .withColumn("attempts", F.lit(0))
        )
        host_id = F.regexp_extract("host", r"host(\d+)", 1).cast("int")
        robots = (
            frontier.select("host", host_id.alias("hid"))
            .distinct()
            .select(
                "host",
                F.when(F.col("hid") == 0, 5.0)
                .when(F.col("hid") % 7 == 0, 0.5)
                .otherwise(F.lit(None).cast("double"))
                .alias("crawl_delay_s"),
            )
        )
        claimed = claim_round(frontier, robots, round_size=100, round_seconds=10.0)
        return claimed.select("claim_rank", "url", "host", "depth")

    q["q_claim_oracle"] = q_claim_oracle

    def q_frontier_claim(spark, d):
        """Politeness claim under HOT-HOST SKEW (30% of the frontier on one
        host) — the salted two-phase scheduler window vs plain SQL windows
        in DuckDB. Host map: doc_id%10<3 → hot host h0 (budget 2), others
        spread over 49 hosts (default budget 10)."""
        from azure_blob_crawler_spark.functions.urls import url_hash, url_host
        from azure_blob_crawler_spark.operators.scheduler import claim_round

        docs = T(spark, d, "documents")
        hid = F.when(F.col("doc_id") % 10 < 3, F.lit(0)).otherwise(
            1 + F.pmod(F.col("doc_id") * 2654435761, F.lit(49))
        )
        url = F.concat(
            F.lit("https://h"), hid.cast("string"), F.lit(".example.com/p/doc"),
            F.col("doc_id").cast("string"), F.lit(".txt"),
        )
        frontier = (
            docs.select(
                canonical_url(url).alias("url"),
                (F.col("doc_id") % 3).cast("int").alias("depth"),
                F.col("doc_id").alias("discovery_seq"),
            )
            .withColumn("host", url_host(F.col("url")))
            .withColumn("url_hash", url_hash(F.col("url")))
            .withColumn("state", F.lit("pending"))
            .withColumn("attempts", F.lit(0))
        )
        robots = (
            frontier.select("host")
            .distinct()
            .select(
                "host",
                F.when(F.col("host") == "h0.example.com", 5.0)
                .otherwise(F.lit(None).cast("double"))
                .alias("crawl_delay_s"),
            )
        )
        return claim_round(frontier, robots, round_size=150, round_seconds=10.0).select(
            "claim_rank", "url", "host", "depth"
        )

    q["q_frontier_claim"] = q_frontier_claim

    def q_grouping_sets(spark, d):
        o = T(spark, d, "orders")
        o.createOrReplaceTempView("orders_gs")
        return spark.sql(
            """
            select coalesce(o_orderstatus, 'ALL') as status,
                   coalesce(o_orderpriority, 'ALL') as prio,
                   count(*) as n, round(sum(o_totalprice), 4) as sum_price
            from orders_gs
            group by grouping sets ((o_orderstatus), (o_orderstatus, o_orderpriority), ())
            """
        )

    q["q_grouping_sets"] = q_grouping_sets

    def q_odata_filter(spark, d):
        """OData filter translation in the full query path (reference
        search_client.py:257-263 / app.py:90-101): wildcard match-all scan
        gated by an eq/gt/and filter."""
        corpus = T(spark, d, "documents").select(
            F.col("doc_id").cast("string").alias("chunk_id"),
            F.col("text").alias("content"), "lang", "n_chars",
        )
        return Q.run_query(
            corpus, query_text="*", search_type="text",
            odata_filter="lang eq 'en' and n_chars gt 500",
            select_fields=["chunk_id", "lang", "n_chars"],
        )

    q["q_odata_filter"] = q_odata_filter

    def q_workitem_parse(spark, d):
        """Queue wire-format ingestion (servicebus_processor.py:181-203):
        Event Grid array / direct dict / single event messages, built
        deterministically from documents, parsed to (container, blob)."""
        from azure_blob_crawler_spark.operators.ingest import parse_work_items

        docs = T(spark, d, "documents")
        url = F.concat(
            F.lit('https://acct.blob.core.windows.net/cont'),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("/dir/doc"), F.col("doc_id").cast("string"), F.lit(".txt"),
        )
        body = (
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit('[{"data":{"url":"'), url, F.lit('"}}]')),
            )
            .when(
                F.col("doc_id") % 3 == 1,
                F.concat(
                    F.lit('{"blob_name":"dir/doc'), F.col("doc_id").cast("string"),
                    F.lit('.txt","container_name":"cont'),
                    (F.col("doc_id") % 5).cast("string"), F.lit('"}'),
                ),
            )
            .otherwise(F.concat(F.lit('{"data":{"url":"'), url, F.lit('"}}')))
        )
        msgs = docs.select("doc_id", body.alias("body"))
        return parse_work_items(msgs).select(
            "doc_id", "msg_format", "container_name", "blob_name"
        )

    q["q_workitem_parse"] = q_workitem_parse

    def q_media_refs(spark, d):
        """Multimodal span surface: media spans of the interleaved corpus
        (typed media_ref + placeholder text, input_hint schema) — the
        SQL-checkable face of operators/multimodal.py's binary column model
        (real codecs are stubbed; reference analogue: the binary-file
        placeholder, file_extractor.py:103-106)."""
        spans = documents_with_spans(spark, d).select(
            F.col("doc_id").cast("long").alias("doc_id"), F.explode("spans").alias("s")
        )
        return spans.filter(F.col("s.kind") == "media").select(
            "doc_id",
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.text").alias("placeholder"),
            F.col("s.offset").alias("offset"),
        )

    q["q_media_refs"] = q_media_refs

    def q_robots_rules(spark, d):
        """robots.txt directive parsing (north-rule politeness input):
        deterministic per-doc robots text → (host, crawl_delay, disallow
        stats), same regexes run in DuckDB."""
        from azure_blob_crawler_spark.functions.robots import robots_rules

        docs = T(spark, d, "documents")
        txt = F.concat(
            F.lit("User-agent: *\n"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit("Crawl-delay: "), (F.col("doc_id") % 7).cast("string"), F.lit("\n")),
            ).otherwise(F.lit("")),
            F.lit("Disallow: /private"), (F.col("doc_id") % 5).cast("string"), F.lit("\n"),
            F.when(F.col("doc_id") % 2 == 0, F.lit("Disallow: /tmp\n")).otherwise(F.lit("")),
            F.lit("Allow: /\n"),
        )
        raw = docs.select(
            F.concat(F.lit("h"), F.col("doc_id").cast("string"), F.lit(".example.com")).alias("host"),
            txt.alias("robots_txt"),
        )
        rules = robots_rules(raw)
        return rules.select(
            "host",
            "crawl_delay_s",
            F.size("disallow").alias("n_disallow"),
            F.element_at("disallow", 1).alias("first_disallow"),
        )

    q["q_robots_rules"] = q_robots_rules

    def q_ivf_allprobe(spark, d):
        """IVF plumbing invariant: probing EVERY cell must reduce exactly to
        brute-force cosine top-k (assign → cell predicate → per-cell scan →
        TakeOrdered loses nothing when nothing is pruned) — the oracle is the
        plain brute-force SQL; the pruned path stays pytest-gated."""
        emb = T(spark, d, "embeddings")
        cents = SIM.train_centroids(emb, n_cells=8, sample=512)
        qv = emb.filter(F.col("vec_id") == 2).select("embedding").collect()[0][0]
        with_cells = SIM.assign_cells(emb, cents)
        return SIM.ivf_topk(
            with_cells, cents, [float(x) for x in qv], k=10, n_probe=8
        ).select("vec_id", F.round("score", 6).alias("score"))

    q["q_ivf_allprobe"] = q_ivf_allprobe

    def q_link_resolve(spark, d):
        """Relative-href resolution through the full link-extraction
        operator: six href shapes (absolute, rooted, bare-relative,
        protocol-relative, query-only, mailto) embedded per document; the
        oracle constructs the expected resolved URLs directly. mailto is
        dropped, surviving links keep their original anchor index."""
        from azure_blob_crawler_spark.operators.linkextract import extract_links

        docs = T(spark, d, "documents")
        sid = F.col("doc_id").cast("string")
        k7 = (F.col("doc_id") % 7).cast("string")
        k5 = (F.col("doc_id") % 5).cast("string")
        k3 = (F.col("doc_id") % 3).cast("string")
        base = F.concat(
            F.lit("https://h"), k7, F.lit(".example.com/dir"), k5,
            F.lit("/page"), sid, F.lit(".html"),
        )
        hrefs = [
            F.concat(F.lit("https://x"), k3, F.lit(".org/abs"), sid),
            F.concat(F.lit("/rooted/p"), sid),
            F.concat(F.lit("rel"), sid, F.lit(".html")),
            F.concat(F.lit("//cdn"), k3, F.lit(".example.com/lib"), sid),
            F.concat(F.lit("?page="), sid),
            F.lit("mailto:nobody@example.com"),
        ]
        content = F.concat(
            *[x for h in hrefs for x in (F.lit('<a href="'), h, F.lit('">x</a>'))]
        )
        src = docs.select("doc_id", base.alias("url"), content.alias("full_content"))
        return extract_links(src).select("doc_id", "link_idx", "link_url", "link_host")

    q["q_link_resolve"] = q_link_resolve

    def q_robots_disallow(spark, d):
        """Disallow/Allow admission over a documents-derived frontier with
        RFC-9309 longest-match precedence: even hosts block /private but
        carve out Allow /private/press (so %4==2 paths survive on them);
        host h3 blocks /private and /tmp with no carve-out."""
        from azure_blob_crawler_spark.functions.robots import filter_allowed

        docs = T(spark, d, "documents")
        sid = F.col("doc_id").cast("string")
        path = (
            F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("/private/doc"), sid))
            .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("/tmp/doc"), sid))
            .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("/private/press/doc"), sid))
            .otherwise(F.concat(F.lit("/public/doc"), sid))
        )
        host = F.concat(F.lit("h"), (F.col("doc_id") % 10).cast("string"), F.lit(".example.com"))
        frontier = docs.select(
            "doc_id", host.alias("host"),
            F.concat(F.lit("https://"), host, path).alias("url"),
        )
        hosts = frontier.select("host").distinct()
        hid = F.regexp_extract("host", r"h(\d+)", 1).cast("int")
        rules = hosts.select(
            "host",
            F.lit(None).cast("double").alias("crawl_delay_s"),
            F.when(hid == 3, F.array(F.lit("/private"), F.lit("/tmp")))
            .when(hid % 2 == 0, F.array(F.lit("/private")))
            .otherwise(F.array().cast("array<string>"))
            .alias("disallow"),
            F.when(hid % 2 == 0, F.array(F.lit("/private/press")))
            .otherwise(F.array().cast("array<string>"))
            .alias("allow"),
        )
        return filter_allowed(frontier, rules).select("doc_id", "url")

    q["q_robots_disallow"] = q_robots_disallow

    return q


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------


def _bm25_sql_ctes(terms: list[str]) -> str:
    """Shared BM25 CTE block (tok → stats → tf → dft → tscore) replicating
    operators/query.bm25_scores arithmetic exactly (k1=1.2, b=0.75, natural
    log; avg_len = Σlen/count like Spark's integral Average)."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
        tok as (
            select doc_id, regexp_extract_all(lower(text), '\\w{{1,8}}|[^\\w\\s]') as ts
            from documents
        ),
        stats as (
            select count(*)::double as n_docs,
                   sum(len(ts))::double / count(*) as avg_len
            from tok
        ),
        post as (
            select doc_id, len(ts) as doc_len, unnest(ts) as term from tok
        ),
        tf as (
            select doc_id, term, doc_len, count(*)::double as tf
            from post where term in ({in_list})
            group by 1, 2, 3
        ),
        dft as (select term, count(distinct doc_id)::double as df from tf group by 1),
        tscore as (
            select cast(doc_id as varchar) as chunk_id,
                   sum( ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                        * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * doc_len / avg_len)) )
                       as score
            from tf join dft using (term) cross join stats
            group by doc_id
        )
    """


def oracle_sql() -> dict[str, str]:
    from azure_blob_crawler_spark.operators.dedup import (
        minhash_dedup_sql,
        simhash_native_sql,
    )
    from azure_blob_crawler_spark.operators.ingest import workitem_parse_sql

    tok = TXT.token_count_sql("text")
    wc = TXT.word_count_sql("text")
    sc = TXT.sentence_count_sql("text")

    canon_sub = canonicalize_sql(
        "u", "duckdb",
        from_clause=f"(select doc_id, {_URL_SQL} as u from documents)",
    )
    canon_sub_sorted = canonicalize_sql(
        "u", "duckdb",
        from_clause=f"(select doc_id, {_URL_Q_SQL} as u from documents)",
        sort_query=True,
    )

    simhash_sigs = simhash_native_sql(
        "text", "(select doc_id, text from documents where doc_id < 200)"
    )
    wi = workitem_parse_sql("body")

    return {
        "q1_pricing_summary": """
            select l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) as sum_qty,
                   round(sum(l_extendedprice), 4) as sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) as sum_disc_price,
                   round(avg(l_quantity), 4) as avg_qty,
                   count(*) as count_order
            from lineitem
            where l_shipdate <= timestamp '1998-09-02'
            group by l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            select o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) as revenue
            from customer
            join orders on c_custkey = o_custkey
            join lineitem on o_orderkey = l_orderkey
            where c_mktsegment = 'BUILDING'
              and o_orderdate < timestamp '1998-01-01'
              and l_shipdate > timestamp '1998-01-01'
            group by o_orderkey
            order by revenue desc, o_orderkey asc
            limit 10
        """,
        "q5_supplier_volume": """
            select r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) as revenue
            from region
            join nation on n_regionkey = r_regionkey
            join customer on c_nationkey = n_nationkey
            join orders on o_custkey = c_custkey
            join lineitem on l_orderkey = o_orderkey
            join supplier on s_suppkey = l_suppkey and s_nationkey = c_nationkey
            group by r_name, n_name
        """,
        "q_window_rank": """
            select o_custkey, o_orderkey, rk from (
                select o_custkey, o_orderkey,
                       row_number() over (partition by o_custkey
                                          order by o_totalprice desc, o_orderkey asc) as rk
                from orders
            ) where rk <= 3
        """,
        "q_events_lag": """
            select user_id, count(*) as n_events, round(sum(diff), 4) as sum_diff
            from (
                select user_id,
                       value - lag(value) over (partition by user_id
                                                order by ts, event_id) as diff
                from events
            )
            group by user_id
        """,
        "q_events_tumbling": """
            select strftime(time_bucket(interval '1 hour', ts), '%Y-%m-%d %H:%M:%S') as wstart,
                   event_type, count(*) as n, round(sum(value), 4) as sum_value
            from events
            group by 1, 2
        """,
        "q_rollup": """
            select coalesce(r_name, 'ALL') as r, coalesce(n_name, 'ALL') as n,
                   count(*) as n_cust, round(sum(c_acctbal), 4) as sum_bal
            from region
            join nation on n_regionkey = r_regionkey
            join customer on c_nationkey = n_nationkey
            group by rollup(r_name, n_name)
        """,
        "q_setops": """
            select 'distinct_ops' as op, cast(c_custkey as bigint) as custkey,
                   cast(1 as bigint) as multiplicity
            from (
                select distinct c_custkey from (
                    (select c_custkey from customer where c_mktsegment = 'BUILDING'
                     intersect
                     select c_custkey from customer
                     where c_custkey in (select o_custkey from orders)
                     except
                     select c_custkey from customer where c_acctbal >= 100)
                    union
                    select c_custkey from customer
                    where c_mktsegment = 'MACHINERY'
                      and c_custkey not in (select o_custkey from orders)
                )
            )
            union all
            select 'except_all' as op, cast(o_custkey as bigint) as custkey,
                   cast(count(*) as bigint) as multiplicity
            from (
                select o_custkey from orders where o_orderstatus = 'O'
                except all
                select o_custkey from orders where o_orderpriority = '1-URGENT'
            ) group by o_custkey
        """,
        "q_semi_anti_counts": """
            select n_name,
                   coalesce(s.n_with_orders, 0) as n_with_orders,
                   coalesce(a.n_without_orders, 0) as n_without_orders
            from nation
            left join (
                select c_nationkey, count(*) as n_with_orders from customer
                where c_custkey in (select o_custkey from orders)
                group by c_nationkey
            ) s on n_nationkey = s.c_nationkey
            left join (
                select c_nationkey, count(*) as n_without_orders from customer
                where c_custkey not in (select o_custkey from orders)
                group by c_nationkey
            ) a on n_nationkey = a.c_nationkey
        """,
        "q_topk_orders": """
            select o_orderkey, o_custkey, o_totalprice,
                   strftime(o_orderdate, '%Y-%m-%d') as o_date
            from orders
            order by o_totalprice desc, o_orderkey asc
            limit 10
        """,
        "q_filter_project": """
            select p_partkey, p_name, p_retailprice,
                   row_number() over (order by p_partkey) as seq
            from part
            where p_size between 10 and 30 and p_type = 'ECONOMY'
        """,
        "q_distinct_agg": """
            select n_name,
                   count(distinct s_suppkey) as n_suppliers,
                   round(avg(s_acctbal), 4) as avg_bal
            from nation
            left join supplier on s_nationkey = n_nationkey
            group by n_name
        """,
        "q_cube": """
            select coalesce(o_orderstatus, 'ALL') as status,
                   coalesce(o_orderpriority, 'ALL') as prio,
                   count(*) as n, round(sum(o_totalprice), 4) as sum_price
            from orders
            group by cube(o_orderstatus, o_orderpriority)
        """,
        "q_subqueries": """
            select 'exists_semi' as tag, cast(c_custkey as bigint) as key,
                   cast(cast(round(c_acctbal * 100) as bigint) as varchar) as val
            from customer
            where exists (select 1 from orders
                          where o_custkey = c_custkey and o_totalprice > 400000)
            union all
            select 'in_anti' as tag, cast(p_partkey as bigint) as key, p_name as val
            from part
            where p_partkey not in (select l_partkey from lineitem where l_quantity > 45)
        """,
        "q_string_funcs": """
            select s_suppkey,
                   upper(s_name) as uname,
                   substr(s_name, 1, 4) as prefix,
                   concat_ws('|', s_name, lower(s_name)) as joined,
                   regexp_replace(s_name, '[aeiou]', '_', 'g') as devowel,
                   length(s_name) as namelen,
                   split_part(s_name, '#', -1) as tail
            from supplier
        """,
        "q_date_funcs": """
            select strftime(date_trunc('month', o_orderdate), '%Y-%m') as month,
                   year(o_orderdate) as yr,
                   quarter(o_orderdate) as qtr,
                   count(*) as n, round(avg(o_totalprice), 4) as avg_price
            from orders
            group by 1, 2, 3
        """,
        "q_conditional_agg": """
            select l_linestatus,
                   round(sum(case when l_returnflag = 'R' then l_quantity else 0.0 end), 4)
                       as returned_qty,
                   sum(case when l_discount > 0.05 then 1 else 0 end)::bigint as n_discounted,
                   count(*) as n
            from lineitem
            group by l_linestatus
        """,
        "q_having": """
            select o_custkey, count(*) as n_orders
            from orders group by o_custkey having count(*) >= 10
        """,
        "q_sessionize": """
            select user_id, sum(new_session)::bigint as n_sessions, count(*) as n_events
            from (
                select user_id,
                       case when lag(ts) over (partition by user_id order by ts, event_id)
                                 is null
                              or epoch(ts) - epoch(lag(ts) over (partition by user_id
                                                                 order by ts, event_id)) > 1800
                            then 1 else 0 end as new_session
                from events
            ) group by user_id
        """,
        "q_url_canonicalize": f"""
            select 'plain' as variant, doc_id, canon as curl from ({canon_sub})
            union all
            select 'sorted' as variant, doc_id, canon as curl from ({canon_sub_sorted})
        """,
        "q_admission_filter": f"""
            select doc_id, curl,
                   case when curl like '%.%'
                        then lower(split_part(curl, '.', -1)) else '' end as ext
            from (select doc_id, canon as curl from ({canon_sub}))
            where case when curl like '%.%'
                       then lower(split_part(curl, '.', -1)) else '' end
                  in ('txt','md','csv','json','pdf','docx','doc')
        """,
        "q_token_stats": f"""
            select doc_id, {tok} as n_tokens, {wc} as n_words, {sc} as n_sentences
            from documents
        """,
        "q_quality_lang": f"""
            select doc_id,
                   {TXT.quality_score_sql("text")} as quality,
                   {TXT.lang_id_sql("text")} as lang_pred
            from documents
        """,
        "q_fingerprint_dedup": f"""
            with base as (
                select doc_id,
                       {TXT.fingerprint_sql("text")} as fp,
                       {TXT.winnow_sql("text")} as prints
                from documents
            )
            select doc_id, fp,
                   len(prints) as n_prints,
                   list_min(prints) as min_print,
                   list_max(prints) as max_print,
                   cast(count(*) over (partition by fp) as bigint) as n_docs,
                   min(doc_id) over (partition by fp) as rep_doc
            from base
        """,
        "q_text_match": """
            select doc_id,
                   len(list_filter(regexp_extract_all(lower(text), '\\w{1,8}|[^\\w\\s]'),
                                   t -> t = 'spark'))
                 + len(list_filter(regexp_extract_all(lower(text), '\\w{1,8}|[^\\w\\s]'),
                                   t -> t = 'merge')) as score
            from documents
            where len(list_filter(regexp_extract_all(lower(text), '\\w{1,8}|[^\\w\\s]'),
                                  t -> t = 'spark'))
                + len(list_filter(regexp_extract_all(lower(text), '\\w{1,8}|[^\\w\\s]'),
                                  t -> t = 'merge')) > 0
        """,
        "q_word_jaccard_pairs": """
            with w as (
                select doc_id,
                       list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) as ws
                from documents where doc_id < 50
            )
            select a.doc_id as id_a, b.doc_id as id_b,
                   round(len(list_intersect(a.ws, b.ws))::double
                         / len(list_distinct(list_concat(a.ws, b.ws))), 6) as jac
            from w a join w b on a.doc_id < b.doc_id
            where len(list_intersect(a.ws, b.ws))::double
                  / len(list_distinct(list_concat(a.ws, b.ws))) >= 0.3
        """,
        "q_embedding_topk": f"""
            with qv as (select embedding as q from embeddings where vec_id = 1)
            select vec_id, round({cosine_sql('embedding', 'q')}, 6) as score
            from embeddings, qv
            order by {cosine_sql('embedding', 'q')} desc, vec_id asc
            limit 10
        """,
        "q_embedding_pair_sims": f"""
            select a.vec_id as id_a, b.vec_id as id_b,
                   round({cosine_sql('a.embedding', 'b.embedding')}, 6) as cos_sim
            from embeddings a join embeddings b on a.vec_id < b.vec_id
            where a.vec_id < 40 and b.vec_id < 40
              and round({cosine_sql('a.embedding', 'b.embedding')}, 6) >= 0.15
        """,
        "q_json_extract": """
            select event_type,
                   round(avg(cast(json_extract_string(props, '$.k') as int)), 4) as avg_k,
                   max(cast(json_extract_string(props, '$.k') as int)) as max_k,
                   count(*) as n
            from events
            group by event_type
        """,
        "q_math_funcs": """
            select p_partkey,
                   round(sqrt(p_retailprice), 6) as sq,
                   round(ln(p_retailprice), 6) as ln_price,
                   round(pow(p_size::double, 2.0), 4) as size_sq,
                   abs(p_size - 25) as size_dev,
                   p_partkey % 7 as k7
            from part
        """,
        "q_array_funcs": """
            select vec_id,
                   len(embedding) as dim,
                   round(list_sum(list_transform(embedding[1:8], x -> x::double)), 6)
                       as head_sum,
                   round(list_max(embedding)::double, 6) as vmax,
                   len(list_filter(embedding, x -> x > 0)) as n_pos
            from embeddings
        """,
        "q_claim_oracle": f"""
            with frontier as (
                select canon as url,
                       cast(doc_id % 3 as int) as depth,
                       doc_id as discovery_seq,
                       split_part(split_part(canon, '://', 2), '/', 1) as host
                from ({canon_sub})
            ),
            budgeted as (
                select *,
                       cast(regexp_extract(host, 'host(\\d+)', 1) as int) as hid
                from frontier
            ),
            ranked as (
                select url, host, depth, discovery_seq,
                       greatest(cast(floor(10.0 / (case when hid = 0 then 5.0
                                                        when hid % 7 = 0 then 0.5
                                                        else 1.0 end)) as int), 1)
                           as host_budget,
                       row_number() over (partition by host
                                          order by depth, discovery_seq, url) as host_rank
                from budgeted
            ),
            eligible as (
                select * from ranked where host_rank <= host_budget
                order by depth, discovery_seq, url
                limit 100
            )
            select cast(row_number() over (order by depth, discovery_seq, url) as int)
                       as claim_rank,
                   url, host, depth
            from eligible
        """,
        "q_span_counts": """
            select doc_id,
                   case
                     when doc_id % 4 = 0 then 1
                     when doc_id % 4 = 3 then 2
                     else greatest(
                       cast(ceil(len(list_filter(string_split(text, '.'),
                                                 s -> trim(s) <> '')) / 3.0) as int),
                       1)
                   end as n_spans
            from documents
        """,
        # chunker invariant oracle: the boolean contract every doc must
        # satisfy (exact boundaries are pinned by pytest+hypothesis; a
        # violation on real data fails this row)
        "q_chunk_stats": """
            select doc_id, true as has_chunks, true as within_budget,
                   true as covers_content,
                   case when doc_id % 4 = 0
                             and len(regexp_extract_all(text, '\\w{1,8}|[^\\w\\s]')) <= 64
                        then 1 end as n_chunks_fastpath
            from documents
        """,
        "q_minhash_dedup": minhash_dedup_sql(
            "(select * from documents where doc_id < 800)",
            threshold=0.4,
        ),
        "q_minhash_recall": """
            with w as (
                select doc_id,
                       regexp_split_to_array(lower(trim(text)), '\\s+') as ws
                from documents where doc_id < 500
            ),
            sh as (
                select doc_id,
                       case when len(ws) < 5 then [array_to_string(ws, ' ')]
                            else list_transform(range(1, len(ws) - 5 + 2),
                                                i -> array_to_string(ws[i:i+4], ' '))
                       end as s
                from w
            ),
            ds as (select doc_id, list_distinct(s) as s from sh)
            select a.doc_id as id_a, b.doc_id as id_b,
                   round(len(list_intersect(a.s, b.s))::double
                         / len(list_distinct(list_concat(a.s, b.s))), 6) as jac
            from ds a join ds b on a.doc_id < b.doc_id
            where len(list_intersect(a.s, b.s))::double
                  / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
        """,
        "q_simhash_pairs": f"""
            with s as ({simhash_sigs})
            select a.id as id_a, b.id as id_b,
                   bit_count(xor(a.sim, b.sim))::int as hamming
            from s a join s b on a.id < b.id
            where bit_count(xor(a.sim, b.sim)) <= 8
        """,
        "q_embedding_near_dups": f"""
            with u as (
                select vec_id, embedding from embeddings
                union all
                select vec_id + 100000 as vec_id, embedding from embeddings
            )
            select a.vec_id as id_a, b.vec_id as id_b,
                   round({cosine_sql('a.embedding', 'b.embedding')}, 6) as cos_sim
            from u a join u b on a.vec_id < b.vec_id
            where {cosine_sql('a.embedding', 'b.embedding')} >= 0.99
        """,
        "q_bm25_search": f"""
            with {_bm25_sql_ctes(['spark', 'merge', 'shuffle'])}
            select 'scan' as tier, chunk_id, round(score, 4) as score from tscore
            union all
            select 'index' as tier, chunk_id, round(score, 4) as score from tscore
        """,
        "q_hybrid_search": f"""
            with {_bm25_sql_ctes(['spark', 'merge', 'shuffle'])},
            tr as (
                select chunk_id,
                       row_number() over (order by round(score, 4) desc, chunk_id asc)
                           as rank_text
                from tscore
            ),
            qv as (select embedding as q from embeddings where vec_id = 1),
            vscore as (
                select cast(vec_id as varchar) as chunk_id,
                       {cosine_sql('embedding', 'q')} as score
                from embeddings, qv
            ),
            vr as (
                select chunk_id,
                       row_number() over (order by round(score, 4) desc, chunk_id asc)
                           as rank_vec
                from vscore
            ),
            fused as (
                select coalesce(tr.chunk_id, vr.chunk_id) as chunk_id,
                       coalesce(1.0 / (60 + rank_text), 0.0)
                       + coalesce(1.0 / (60 + rank_vec), 0.0) as score
                from tr full outer join vr on tr.chunk_id = vr.chunk_id
            )
            select chunk_id, round(score, 6) as score from fused
            order by score desc, chunk_id asc limit 20
        """,
        "q_frontier_claim": """
            with frontier as (
                select 'https://h' || cast(hid as varchar) || '.example.com/p/doc'
                           || cast(doc_id as varchar) || '.txt' as url,
                       cast(doc_id % 3 as int) as depth,
                       doc_id as discovery_seq,
                       'h' || cast(hid as varchar) || '.example.com' as host,
                       hid
                from (select doc_id,
                             case when doc_id % 10 < 3 then 0
                                  else 1 + (doc_id * 2654435761) % 49 end as hid
                      from documents)
            ),
            ranked as (
                select url, host, depth, discovery_seq,
                       greatest(cast(floor(10.0 / (case when hid = 0 then 5.0
                                                        else 1.0 end)) as int), 1)
                           as host_budget,
                       row_number() over (partition by host
                                          order by depth, discovery_seq, url) as host_rank
                from frontier
            ),
            eligible as (
                select * from ranked where host_rank <= host_budget
                order by depth, discovery_seq, url
                limit 150
            )
            select cast(row_number() over (order by depth, discovery_seq, url) as int)
                       as claim_rank,
                   url, host, depth
            from eligible
        """,
        "q_grouping_sets": """
            select coalesce(o_orderstatus, 'ALL') as status,
                   coalesce(o_orderpriority, 'ALL') as prio,
                   count(*) as n, round(sum(o_totalprice), 4) as sum_price
            from orders
            group by grouping sets ((o_orderstatus), (o_orderstatus, o_orderpriority), ())
        """,
        "q_odata_filter": """
            select cast(doc_id as varchar) as chunk_id, lang, n_chars,
                   1.0::double as score
            from documents
            where lang = 'en' and n_chars > 500
        """,
        "q_ivf_topk": f"""
            with cent as (
                select vec_id as cid, embedding as cvec
                from embeddings where vec_id < 8
            ),
            qv as (select embedding as q from embeddings where vec_id = 1),
            assign as (
                select e.vec_id, c.cid,
                       row_number() over (
                           partition by e.vec_id
                           order by {cosine_sql('e.embedding', 'c.cvec')} desc, c.cid asc
                       ) as rn
                from embeddings e cross join cent c
            ),
            cells as (
                select cid from (
                    select c.cid,
                           row_number() over (
                               order by {cosine_sql('c.cvec', 'q')} desc, c.cid asc
                           ) as rn
                    from cent c, qv
                ) where rn <= 3
            ),
            probed as (
                select e.vec_id, e.embedding
                from embeddings e
                join assign a on a.vec_id = e.vec_id and a.rn = 1
                where a.cid in (select cid from cells)
            )
            select vec_id, round({cosine_sql('embedding', 'q')}, 6) as score
            from probed, qv
            order by {cosine_sql('embedding', 'q')} desc, vec_id asc
            limit 10
        """,
        "q_ivf_allprobe": f"""
            with qv as (select embedding as q from embeddings where vec_id = 2)
            select vec_id, round({cosine_sql('embedding', 'q')}, 6) as score
            from embeddings, qv
            order by {cosine_sql('embedding', 'q')} desc, vec_id asc
            limit 10
        """,
        "q_robots_rules": """
            with raw as (
                select 'h' || cast(doc_id as varchar) || '.example.com' as host,
                       'User-agent: *' || chr(10)
                       || case when doc_id % 3 = 0
                               then 'Crawl-delay: ' || cast(doc_id % 7 as varchar) || chr(10)
                               else '' end
                       || 'Disallow: /private' || cast(doc_id % 5 as varchar) || chr(10)
                       || case when doc_id % 2 = 0 then 'Disallow: /tmp' || chr(10) else '' end
                       || 'Allow: /' || chr(10) as robots_txt
                from documents
            )
            select host,
                   case when regexp_extract(robots_txt,
                            '(?i)crawl-delay:\\s*([0-9]+\\.?[0-9]*)', 1) <> ''
                        then regexp_extract(robots_txt,
                            '(?i)crawl-delay:\\s*([0-9]+\\.?[0-9]*)', 1)::double end
                       as crawl_delay_s,
                   len(regexp_extract_all(robots_txt, '(?i)disallow:\\s*(/\\S*)', 1))
                       as n_disallow,
                   regexp_extract_all(robots_txt, '(?i)disallow:\\s*(/\\S*)', 1)[1]
                       as first_disallow
            from raw
        """,
        "q_link_resolve": """
            with d as (
                select doc_id,
                       cast(doc_id % 7 as varchar) as k7,
                       cast(doc_id % 5 as varchar) as k5,
                       cast(doc_id % 3 as varchar) as k3,
                       cast(doc_id as varchar) as id
                from documents
            )
            select doc_id, 0 as link_idx,
                   'https://x' || k3 || '.org/abs' || id as link_url,
                   'x' || k3 || '.org' as link_host
            from d
            union all
            select doc_id, 1, 'https://h' || k7 || '.example.com/rooted/p' || id,
                   'h' || k7 || '.example.com' from d
            union all
            select doc_id, 2,
                   'https://h' || k7 || '.example.com/dir' || k5 || '/rel' || id || '.html',
                   'h' || k7 || '.example.com' from d
            union all
            select doc_id, 3, 'https://cdn' || k3 || '.example.com/lib' || id,
                   'cdn' || k3 || '.example.com' from d
            union all
            select doc_id, 4,
                   'https://h' || k7 || '.example.com/dir' || k5 || '/page' || id
                       || '.html?page=' || id,
                   'h' || k7 || '.example.com' from d
        """,
        "q_robots_disallow": """
            with f as (
                select doc_id,
                       cast(doc_id % 10 as int) as hid,
                       case when doc_id % 4 = 0 then '/private/doc' || cast(doc_id as varchar)
                            when doc_id % 4 = 1 then '/tmp/doc' || cast(doc_id as varchar)
                            when doc_id % 4 = 2 then '/private/press/doc' || cast(doc_id as varchar)
                            else '/public/doc' || cast(doc_id as varchar) end as path
                from documents
            ),
            scored as (
                -- longest-match lengths: Disallow vs Allow (RFC 9309 §2.2.2;
                -- ties resolve to allow, i.e. drop only when dis_len > alw_len)
                select doc_id, hid, path,
                       case when hid = 3 then greatest(
                                case when starts_with(path, '/private') then 8 else 0 end,
                                case when starts_with(path, '/tmp') then 4 else 0 end)
                            when hid % 2 = 0 then
                                case when starts_with(path, '/private') then 8 else 0 end
                            else 0 end as dis_len,
                       case when hid % 2 = 0 and hid <> 3
                                 and starts_with(path, '/private/press') then 14
                            else 0 end as alw_len
                from f
            )
            select doc_id,
                   'https://h' || cast(hid as varchar) || '.example.com' || path as url
            from scored
            where dis_len <= alw_len
        """,
        "q_media_refs": """
            select doc_id,
                   'asset_' || cast(doc_id as varchar) || '.jpg' as media_ref,
                   'Binary file: asset_' || cast(doc_id as varchar)
                       || '.jpg (Size: 0.50MB, Type: jpg)' as placeholder,
                   1 as offset
            from documents
            where doc_id % 4 = 3
        """,
        "q_workitem_parse": f"""
            with m as (
                select doc_id,
                       case when doc_id % 3 = 0
                                then '[{{"data":{{"url":"' || u || '"}}}}]'
                            when doc_id % 3 = 1
                                then '{{"blob_name":"dir/doc' || cast(doc_id as varchar)
                                     || '.txt","container_name":"cont'
                                     || cast(doc_id % 5 as varchar) || '"}}'
                            else '{{"data":{{"url":"' || u || '"}}}}' end as body
                from (select doc_id,
                             'https://acct.blob.core.windows.net/cont'
                             || cast(doc_id % 5 as varchar) || '/dir/doc'
                             || cast(doc_id as varchar) || '.txt' as u
                      from documents)
            )
            select doc_id, {wi['msg_format']} as msg_format,
                   {wi['container_name']} as container_name,
                   {wi['blob_name']} as blob_name
            from m
            where {wi['msg_format']} is not null
        """,
    }
