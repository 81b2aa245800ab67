"""Registered operator queries over the driver's parquet tables.

One function per implemented operator from SURVEY.md §2 (plus the
training-data-pipeline operators: dedup, similarity search, text
analysis). Each takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names/values match the DuckDB oracle in ``ocr_spark.oracles``.

Conventions (so the driver's order-insensitive value-hash matches):
- every computed column is aliased identically to the oracle SQL
- doubles are rounded explicitly (round 4-6) on both sides
- counts/sums are cast to bigint on both sides
"""

from __future__ import annotations

from ocr_spark import params as _params
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan + spread for CPU-heavy per-row stages (hashing, shingling).

    A small/compacted table can arrive in fewer scan splits than the
    cluster has cores (here: the documents table is 2 splits at sf0.1),
    which strands a hash-bound stage on 2 tasks no matter how wide the
    cluster is. One cheap round-robin repartition of the raw rows
    restores full parallelism. Gated: sources that already arrive in
    >= cores splits (any real 100 TB table) pass through untouched."""
    df = _t(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < cores:
        return df.repartition(cores * 2)
    return df


# ---------------------------------------------------------------------------
# documents — extraction-semantics operators
# ---------------------------------------------------------------------------

# deterministic whitespace noise so the T5 regex chain has something to chew
# on (the driver's documents.text is single-spaced): inject a tab+double-space
# run and a blank-line run, then clean.
def q_t5_cleanup_normalize(spark, sf_dir):
    doc = _t(spark, sf_dir, "documents")
    noisy = F.regexp_replace(
        F.regexp_replace(F.col("text"), " value ", "  value\t "),
        " table ",
        " table\n\n\n\n",
    )
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(noisy, r"\n\s*\n\s*\n+", "\n\n"), r"[ \t]+", " "
        )
    )
    return doc.select("doc_id", cleaned.alias("cleaned"))


def q_f1_page_classifier(spark, sf_dir):
    # the reference rule (page_classifier.py:47): 'image' iff
    # len(strip(text)) < 30; applied to a deterministic per-doc prefix so
    # both branches occur on the driver data.
    doc = _t(spark, sf_dir, "documents")
    page_text = F.expr("substr(text, 1, cast((doc_id * 7) % 80 as int))")
    kind = F.when(F.length(F.trim(page_text)) < 30, "image").otherwise("text")
    return doc.select("doc_id", kind.alias("kind"))


def q_f3_empty_text_filter(spark, sf_dir):
    doc = _t(spark, sf_dir, "documents")
    page_text = F.expr("substr(text, 1, cast((doc_id * 7) % 80 as int))")
    return (
        doc.select("doc_id", page_text.alias("page_text"))
        .filter(F.trim(F.col("page_text")) != "")
        .select("doc_id")
    )


def q_s3_content_hash(spark, sf_dir):
    doc = _t(spark, sf_dir, "documents")
    return doc.select("doc_id", F.sha2(F.col("text"), 256).alias("sha"))


def q_a6_dedup_exact(spark, sf_dir):
    doc = _t(spark, sf_dir, "documents")
    return (
        doc.groupBy(F.sha2(F.col("text"), 256).alias("sha"))
        .agg(
            F.count("*").cast("bigint").alias("n_dups"),
            F.min("doc_id").cast("bigint").alias("rep_doc_id"),
        )
    )


def q_t9_stats_projection(spark, sf_dir):
    doc = _t(spark, sf_dir, "documents")
    return doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        F.min(F.length("text")).cast("bigint").alias("min_chars"),
        F.max(F.length("text")).cast("bigint").alias("max_chars"),
        F.expr("count_if(n_chars < 100)").cast("bigint").alias("short_docs"),
    )


def q_a3_ordered_concat(spark, sf_dir):
    doc = _t(spark, sf_dir, "documents")
    return doc.groupBy("source").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(doc_id, text))),"
            " x -> x.text), '\\n\\n')"
        ).alias("full_text"),
        F.count("*").cast("bigint").alias("n_docs"),
    )


def q_a2_ordered_gather(spark, sf_dir):
    doc = _t(spark, sf_dir, "documents")
    return doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("first_doc_id"),
        F.max("doc_id").cast("bigint").alias("last_doc_id"),
        F.sum(F.length("text")).cast("bigint").alias("total_chars"),
    )


def q_a8_top_k(spark, sf_dir):
    # orderBy().limit(k) compiles to TakeOrderedAndProject: distributed
    # per-partition partial top-k, driver merges k rows per partition — no
    # single-task global Window at any scale.
    doc = _t(spark, sf_dir, "documents")
    return (
        doc.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", F.col("n_chars").cast("bigint").alias("n_chars"))
    )


def q_f7_limit_predicate(spark, sf_dir):
    doc = _t(spark, sf_dir, "documents")
    return doc.filter(F.col("doc_id") < 50).select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars")
    )


def q_token_count(spark, sf_dir):
    doc = _t(spark, sf_dir, "documents")
    return doc.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tokens"),
    )


def q_doc_fingerprint(spark, sf_dir):
    doc = _t(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return doc.select("doc_id", F.md5(norm).alias("fingerprint"))


def q_lang_id_heuristic(spark, sf_dir):
    # n-gram-free stopword heuristic: density of English function words
    from ocr_spark.functions import stopword_ratio

    doc = _t(spark, sf_dir, "documents")
    ratio = stopword_ratio("text")
    guess = F.when(ratio >= 0.05, "en-like").otherwise("other")
    return doc.select("doc_id", ratio.alias("stopword_ratio"), guess.alias("lang_guess"))


def q_quality_score(spark, sf_dir):
    from ocr_spark.functions import quality_score

    doc = _t(spark, sf_dir, "documents")
    return doc.select("doc_id", quality_score("text").alias("quality"))


_NGRAM_MAX_DF = 100  # drop shingles shared by more than this many docs


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Near-dup candidates: 3-word-shingle Jaccard between document pairs.

    Distributed shape: explode shingles -> document-frequency cap (drop
    boilerplate shingles with df > _NGRAM_MAX_DF via a broadcast left-anti
    join; a shingle shared by k docs contributes k^2 rows to the self-join,
    so web-scale stopword shingles would otherwise blow up quadratically)
    -> self-equi-join on shingle value (never a cross join) -> per-pair
    intersection counts -> Jaccard via inclusion-exclusion over the capped
    shingle set. Top-20 pairs, deterministic ordering. The hot-shingle set
    is tiny by construction (bounded by corpus_shingles / max_df), hence
    broadcast-able at any corpus size.
    """
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "case when size(toks) >= 3 then array_distinct(transform(sequence(1, size(toks) - 2),"
                " i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),"
                " element_at(toks, i + 2)))) else cast(array() as array<string>) end"
            )
        ).alias("shingle"),
    )
    hot = (
        shingles.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > _NGRAM_MAX_DF)
        .select("shingle")
    )
    shingles = shingles.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    joined = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6),
        )
    )
    return (
        joined.orderBy(
            F.col("jaccard").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
        )
        .limit(20)
        .select("doc_a", "doc_b", "jaccard")
    )


_MINHASH_K = 128  # permutations (production-scale; 16 bands x 8 rows in LSH)
_MINHASH_P = 999999999999999989  # largest prime < 10^18; sums stay < 2^62


from ocr_spark.dedup import minhash_ab as _minhash_ab  # noqa: E402 (oracle mirror)


def _minhash_wide(spark, sf_dir) -> DataFrame:
    """(doc_id, m0..m127): each shingle is md5-hashed ONCE into two 32-bit
    halves; the K permutations are derived via Carter-Wegman
    (a_j*h1 + b_j*h2) mod p — cheap codegen'd integer arithmetic, not K
    separate digest passes. Shape: spread an under-parallelized scan
    (_t_spread) -> explode shingles -> 128 partial-aggregated min()s, so
    the one KEY shuffle carries a single 128-column row per doc per
    partition. Production impl: ``ocr_spark.dedup.minhash_signatures``
    (this wrapper only binds the driver's documents table)."""
    from ocr_spark import dedup

    return dedup.minhash_signatures(
        _t_spread(spark, sf_dir, "documents"), _MINHASH_K
    )


def q_minhash_signature(spark, sf_dir):
    """MinHash signatures over 3-word shingles, K=128 permutations from a
    single md5 per shingle (Carter-Wegman). Long output (doc_id, j, minh)
    keeps the driver-compared schema scalar; docs with <3 tokens have no
    shingles and are dropped on both engines."""
    wide = _minhash_wide(spark, sf_dir)
    sig = F.array(*[F.col(f"m{j}") for j in range(_MINHASH_K)])
    return wide.select("doc_id", F.posexplode(sig).alias("j", "minh")).select(
        "doc_id", F.col("j").cast("int").alias("j"), "minh"
    )


# ---------------------------------------------------------------------------
# events — windows / chunking / ordered aggregation
# ---------------------------------------------------------------------------

def q_w1_running_count(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id", "event_id", F.count("*").over(w).cast("bigint").alias("running")
    )


def q_w2_stable_event_order(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(ts, event_id, event_type))),"
            " x -> x.event_type), ',')"
        ).alias("type_seq")
    )


def q_p1_chunk_split(spark, sf_dir):
    # fixed-width chunking ≙ pdf_hybrid_service.py:43-58 (50 units/chunk)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("chunk_id", F.floor((F.col("rn") - 1) / 50).cast("bigint"))
        .groupBy("user_id", "chunk_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("event_id").cast("bigint").alias("first_event"),
            F.max("event_id").cast("bigint").alias("last_event"),
        )
    )


def q_a4_batch_summary(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count("*").cast("bigint").alias("total_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.expr("count_if(event_type = 'error')").cast("bigint").alias("n_errors"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


def q_f5_validation_predicates(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter((F.col("value") >= 0) & (F.col("value") <= 50))
        .groupBy("event_type")
        .agg(F.count("*").cast("bigint").alias("n_valid"))
    )


def q_sessionize(spark, sf_dir):
    # 30-minute-gap sessionization (window-function-shaped logic, SURVEY §2.6)
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ-safe epoch micros (interpret wall time as UTC, like DuckDB epoch_us)
    epoch = F.expr("unix_micros(to_utc_timestamp(ts, 'UTC'))")
    prev = F.lag(epoch).over(w)
    new_sess = F.when(prev.isNull() | ((epoch - prev) > 1800000000), 1).otherwise(0)
    sess = (
        ev.withColumn("new_sess", new_sess)
        .withColumn(
            "session_id",
            F.sum("new_sess").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return sess.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions"),
        F.count("*").cast("bigint").alias("n_events"),
    )


def q_event_type_rollup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.expr("count_if(event_type = 'click')").cast("bigint").alias("n_click"),
        F.expr("count_if(event_type = 'view')").cast("bigint").alias("n_view"),
        F.expr("count_if(event_type = 'error')").cast("bigint").alias("n_error"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# TPC-H-ish relational coverage
# ---------------------------------------------------------------------------

def q_tpch_q1(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                4,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


def q_tpch_q6(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
            "revenue"
        )
    )


def q_tpch_q5_local_supplier(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): revenue by nation over one
    order year and one region, where the lineitem's SUPPLIER and the
    order's CUSTOMER sit in the same nation — the deepest join tree in
    the relational family (region -> nation -> {customer, supplier} ->
    orders -> lineitem) and the only query that exercises the supplier
    table.

    Distributed shape: nation/region are constant-size and supplier is
    bounded, so the supplier-side dimension assembles via forced
    BroadcastHashJoins; customer joins un-hinted (AQE broadcasts it at
    this sf, shuffles it when a real corpus outgrows the limit); the
    single unavoidable big-side shuffle is lineitem ⋈ orders on
    orderkey. The date predicate pushes to the orders scan, the region
    name to the region scan."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(
            F.broadcast(dim),
            (li.l_suppkey == dim.s_suppkey)
            & (cust.c_nationkey == dim.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").cast("bigint").alias("n_lineitems"),
        )
    )


def q_tpch_q21ish(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept waiting): per supplier, how
    many finalized multi-supplier orders it was the LAST to ship (ties
    both count), top 10. The reference Q21 is a double correlated
    EXISTS/NOT-EXISTS over lineitem; re-expressed for Spark as ONE
    per-order aggregate (max shipdate + distinct-supplier count,
    partial-aggregated map-side) joined back to the lineitem stream —
    the aggregate-then-join-back pattern that replaces correlated
    subqueries at scale.

    Distributed shape: the per-order aggregate partial-aggregates
    map-side; Catalyst folds the last-shipper filter INTO the join
    back, planning an equi-join on (l_shipdate, l_orderkey) — tighter
    buckets than an orderkey-only join + post-filter, at the cost of
    re-keying the order-cardinality aggregate side (cheap). The
    finalized-orders predicate pushes to the orders scan and AQE
    broadcasts the surviving keys; supplier is a broadcast dim; the
    head is TakeOrderedAndProject. No window, no self-join of the raw
    stream, no correlated re-scan per supplier."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    fin = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    li_f = li.join(fin, li.l_orderkey == fin.o_orderkey).drop("o_orderkey")
    per_order = li_f.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )
    blockers = (
        li_f.join(per_order.filter(F.col("n_supps") >= 2), "l_orderkey")
        .filter(F.col("l_shipdate") == F.col("last_ship"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    # group by s_name AFTER the broadcast dim join (not by l_suppkey
    # before it): TPC-H Q21 — and the DuckDB oracle — aggregate per
    # supplier NAME, so two suppliers sharing a name must merge into
    # one row; keying the aggregate on suppkey would diverge on any
    # corpus with duplicate names. The broadcast join is row-preserving
    # and the name aggregate still partial-aggregates map-side.
    return (
        blockers.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("n_waits"))
        .orderBy(F.desc("n_waits"), F.asc("s_name"))
        .limit(10)
    )


def q_tpch_q3(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    joined = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1998-03-15"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1998-03-15"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    return (
        joined.orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            "revenue",
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
            "o_orderpriority",
        )
    )


def q_dim_broadcast_join(spark, sf_dir):
    # small-dimension join: always broadcast (SURVEY §4 "Catalyst gives us")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count("*").cast("bigint").alias("n_nations"))
    )


def q_semi_join_exists(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_discount") > 0.09).select("l_orderkey")
    return (
        orders.join(late, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# embeddings — similarity search
# ---------------------------------------------------------------------------

def _cosine_expr(a: str, b: str) -> str:
    # double-cast fold in element order on both engines
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v)"
        f" / (sqrt(aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v))"
        f" * sqrt(aggregate(transform({b}, x -> cast(x as double) * cast(x as double)),"
        f" cast(0.0 as double), (acc, v) -> acc + v)))"
    )


def q_embedding_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.round(
            F.expr(
                "sqrt(aggregate(transform(embedding, x -> cast(x as double) * cast(x as double)),"
                " cast(0.0 as double), (acc, v) -> acc + v))"
            ),
            4,
        ).alias("l2_norm"),
    )


def q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k vs the vec_id=0 query vector (ANN baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    scored = (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(query))
        .withColumn(
            "cosine", F.round(F.expr(_cosine_expr("embedding", "q_embedding")), 4)
        )
    )
    return (
        scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", "cosine")
    )


def q_lsh_sign_buckets(spark, sf_dir):
    """Sign-LSH bucketing on the first 8 dimensions (the ANN scale path:
    candidates come from one bucket instead of a full scan)."""
    emb = _t(spark, sf_dir, "embeddings")
    bucket = F.expr(
        "array_join(transform(slice(embedding, 1, 8),"
        " x -> case when x >= 0 then '1' else '0' end), '')"
    )
    return emb.groupBy(bucket.alias("bucket")).agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.min("vec_id").cast("bigint").alias("min_vec_id"),
    )


def q_ann_bucketed_topk(spark, sf_dir):
    """ANN via sign-LSH: top-5 cosine within the query's bucket only."""
    emb = _t(spark, sf_dir, "embeddings")
    bucket = F.expr(
        "array_join(transform(slice(embedding, 1, 8),"
        " x -> case when x >= 0 then '1' else '0' end), '')"
    )
    with_bucket = emb.withColumn("bucket", bucket)
    query = with_bucket.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding"), F.col("bucket").alias("q_bucket")
    )
    scored = (
        with_bucket.filter(F.col("vec_id") != 0)
        .join(F.broadcast(query), F.col("bucket") == F.col("q_bucket"))
        .withColumn(
            "cosine", F.round(F.expr(_cosine_expr("embedding", "q_embedding")), 4)
        )
    )
    return (
        scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(5)
        .select("vec_id", "cosine")
    )


# ---------------------------------------------------------------------------
# dedup & fingerprinting, part 2 (MinHash-LSH / SimHash / embedding near-dup)
# ---------------------------------------------------------------------------

def _shingles_df(spark, sf_dir):
    from ocr_spark import dedup

    return dedup.shingles(_t_spread(spark, sf_dir, "documents"))


_LSH_BANDS = 16
_LSH_ROWS = _MINHASH_K // _LSH_BANDS  # 8 rows per band


def q_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup dedup: 16 bands x 8 rows over the K=128
    signature, bucket-join for candidate pairs, then verify exact
    Jaccard >= 0.25.

    Scale shape: candidates come from equi-joining band buckets (shuffle
    on band_key, never a cross join); exact verification is
    candidate-first — shingles are joined onto the candidate pairs, so
    verification cost scales with |candidates|, not |docs|^2. The band
    explosion is a stack over the wide signature row (narrow, 16x row
    count of |docs|, tiny).
    """
    from ocr_spark import dedup

    return dedup.verified_pairs(
        _t_spread(spark, sf_dir, "documents"), min_jaccard=0.25
    )


_SIMHASH_BITS = 64  # production width; 4 bands x 16 bits, hamming <= 3


def q_simhash_fingerprint(spark, sf_dir):
    """64-bit SimHash document fingerprint (near-dup by hamming distance).

    One md5 per token (bit b is bit (b%4) of hex digit (b//4) of the
    digest); per-bit majority votes are 64 codegen'd partial-aggregated
    sums over exploded (doc_id, token) rows — no K-digest blowup, no
    higher-order-function interpretation in the hot path. The shuffle
    carries one 65-column row per doc per partition (map-side combine)."""
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    tok = toks.select("doc_id", F.explode("toks").alias("w"))
    digits = tok.select(
        "doc_id",
        *[
            F.expr(f"cast(conv(substr(md5(w), {d + 1}, 1), 16, 10) as int)").alias(
                f"g{d}"
            )
            for d in range(_SIMHASH_BITS // 4)
        ],
    )
    aggs = [F.count("*").alias("n")]
    for b in range(_SIMHASH_BITS):
        aggs.append(
            F.sum(F.expr(f"shiftright(g{b // 4}, {b % 4}) % 2")).alias(f"c{b}")
        )
    cnt = digits.groupBy("doc_id").agg(*aggs)
    simhash = F.concat(
        *[
            F.when(2 * F.col(f"c{b}") >= F.col("n"), "1").otherwise("0")
            for b in range(_SIMHASH_BITS)
        ]
    )
    return cnt.select("doc_id", simhash.alias("simhash"))


def q_simhash_near_dup(spark, sf_dir):
    """SimHash near-dup pairs: candidates share one 16-bit quarter
    (pigeonhole: hamming <= 3 over 64 bits guarantees one of 4 bands is
    identical), verified exact hamming <= 3.

    Bucket-join on the quarter, never a cross join; exact hamming only on
    candidates.
    """
    sig = q_simhash_fingerprint(spark, sf_dir)
    n_bands = 4
    width = _SIMHASH_BITS // n_bands
    banded = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring("simhash", b * width + 1, width).alias("half"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.half")
    a = banded.alias("a")
    b_ = banded.alias("b")
    hamming = F.expr(
        f"size(filter(sequence(1, {_SIMHASH_BITS}),"
        " i -> substr(a.simhash, i, 1) != substr(b.simhash, i, 1)))"
    )
    return (
        a.join(b_, ["band", "half"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 3)
    )


_ND_SIGN_BITS = 16  # sign-LSH signature width (2^16 buckets; parameterized)


def _sign_lsh_sig_expr() -> str:
    """The ONE 16-bit sign-LSH signature rule (bit i set iff dim i+1 is
    >= 0). Shared by embedding_near_dup / semantic_decontam /
    mutual_nn_pairs so their candidate sets stay mutually consistent —
    a rule change edits exactly this expression."""
    return (
        f"aggregate(zip_with(slice(embedding, 1, {_ND_SIGN_BITS}),"
        f" sequence(0, {_ND_SIGN_BITS - 1}),"
        " (x, i) -> case when x >= 0 then shiftleft(1, i) else 0 end),"
        " 0, (acc, v) -> acc + v)"
    )


def _sign_probe_expr() -> str:
    """Hamming<=1 multiprobe set over a column named ``sig``: the home
    signature plus all single-bit XOR flips (17 probes at 16 bits)."""
    return (
        "concat(array(sig), transform("
        f"sequence(0, {_ND_SIGN_BITS - 1}), i -> sig ^ shiftleft(1, i)))"
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs: 16-bit sign-LSH with Hamming<=1
    multiprobe, exact cosine on candidates, top-20 pairs.

    Candidate rule: pairs whose sign signatures (first _ND_SIGN_BITS dims)
    differ in at most 1 bit. 2^16 buckets keeps per-bucket occupancy ~N/65536
    (vs the earlier 8-bit N/256 quadratic edge) while multiprobe restores the
    recall a wider signature would lose. Probe set = home signature + all 16
    single-bit XOR flips, joined probe->home with vec_a < vec_b; each
    qualifying pair matches on exactly one probe (home-home when d=0, the
    one flip when d=1), so no dedup shuffle is needed. The 17x probe explode
    is narrow (no shuffle); the join shuffles keys, not pairs.
    """
    emb = _t(spark, sf_dir, "embeddings")
    sig = F.expr(_sign_lsh_sig_expr())
    wb = emb.select("vec_id", "embedding", sig.alias("sig"))
    probes = wb.select(
        "vec_id",
        "embedding",
        F.explode(
            F.expr(_sign_probe_expr())
        ).alias("probe"),
    )
    a = probes.alias("a")
    b = wb.alias("b")
    pairs = (
        a.join(b, F.col("a.probe") == F.col("b.sig"))
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(F.expr(_cosine_expr("a.embedding", "b.embedding")), 4).alias("cosine"),
        )
    )
    return (
        pairs.orderBy(
            F.col("cosine").desc(), F.col("vec_a").asc(), F.col("vec_b").asc()
        )
        .limit(20)
        .select("vec_a", "vec_b", "cosine")
    )


# ---------------------------------------------------------------------------
# SURVEY §2 back-fill: F2/F4/F6+T2/A7/T4/S2 + extra window coverage
# ---------------------------------------------------------------------------

def q_f2_confidence_filter(spark, sf_dir):
    """F2 (`text_extractor.py:160-161`): drop low-confidence lines via a
    higher-order array filter — synthetic per-token confidence from md5."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    kept = F.expr(
        "filter(toks, t -> cast(conv(substr(md5(t), 1, 4), 16, 10) as double) / 65535.0 >= 0.5)"
    )
    return toks.select(
        "doc_id",
        F.size(kept).cast("int").alias("n_kept"),
        F.array_join(kept, " ").alias("kept_text"),
    )


def q_f4_file_type_dispatch(spark, sf_dir):
    """F4 (`file_upload_helpers.py:93-118`): extension dispatch as two
    filtered sub-plans recombined with unionByName (the router pattern,
    T6) — semantically a CASE, structurally the reference's branch."""
    doc = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.element_at(F.array(F.lit("png"), F.lit("pdf"), F.lit("txt")), (F.col("doc_id") % 3 + 1).cast("int")).alias("ext"),
    )
    image = doc.filter(F.col("ext") == "png").withColumn("route", F.lit("ocr"))
    pdf = doc.filter(F.col("ext") == "pdf").withColumn("route", F.lit("hybrid"))
    other = doc.filter(~F.col("ext").isin("png", "pdf")).withColumn("route", F.lit("reject"))
    return image.unionByName(pdf).unionByName(other).select("doc_id", "ext", "route")


def q_f6_block_projection(spark, sf_dir):
    """F6+T2 (`block_extractor.py:26-38`): synthetic 4-quarter blocks with
    alternating type; keep type==0 text blocks, strip-skip empties,
    concatenate — all builtin array expressions."""
    doc = _t(spark, sf_dir, "documents")
    qlen = "cast(ceil(length(text) / 4.0) as int)"
    blocks = (
        f"transform(sequence(0, 3), i -> struct(cast((doc_id + i) % 2 as int) as type,"
        f" trim(substr(text, i * {qlen} + 1, {qlen})) as btext))"
    )
    kept = f"filter({blocks}, b -> b.type = 0 and b.btext != '')"
    return doc.select(
        "doc_id",
        F.expr(f"size({kept})").cast("int").alias("n_blocks"),
        F.expr(f"array_join(transform({kept}, b -> b.btext), '\\n')").alias("block_text"),
    )


def q_a7_reading_order(spark, sf_dir):
    """A7/T1 (`helpers/text_extractor.py:24`, sort=True): reading-order
    sort by (row y, position x) with deterministic synthetic layout."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    sorted_words = (
        "array_join(transform(array_sort(transform(sequence(1, size(toks)),"
        " i -> struct(cast(conv(substr(md5(concat(element_at(toks, i), '|', doc_id)), 1, 2), 16, 10) as int) % 4 as y,"
        " i as pos, element_at(toks, i) as w))), s -> s.w), ' ')"
    )
    return toks.select("doc_id", F.expr(sorted_words).alias("ordered_text"))


def q_t4_line_join(spark, sf_dir):
    """T4 (`text_extractor.py:193`): newline-join of non-blank lines."""
    doc = _t(spark, sf_dir, "documents")
    return doc.select(
        "doc_id",
        F.expr(
            r"array_join(filter(transform(split(text, '\\.'), s -> trim(s)), s -> s != ''), '\n')"
        ).alias("joined"),
    )


def q_s2_base64_roundtrip(spark, sf_dir):
    """S2 (`utils/encoding.py:10-39`): base64 transport encode + verified
    roundtrip decode."""
    doc = _t(spark, sf_dir, "documents")
    # Spark's base64 emits MIME 76-char line wrapping; strip it for the
    # canonical unwrapped transport form.
    b64 = F.regexp_replace(F.base64(F.col("text").cast("binary")), r"[\r\n]", "")
    return doc.select(
        "doc_id",
        b64.alias("b64"),
        (F.unbase64(b64).cast("string") == F.col("text")).alias("roundtrip_ok"),
    )


def q_w3_event_gap(spark, sf_dir):
    """lead/lag window: seconds since the user's previous event."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # millisecond epochs: second-truncated diffs disagree across engines
    # when timestamps carry sub-second precision
    return ev.select(
        "user_id",
        "event_id",
        (F.unix_millis(F.col("ts").cast("timestamp"))
         - F.unix_millis(F.lag("ts").over(w).cast("timestamp"))).cast("bigint").alias("gap_ms"),
    )


def q_topk_per_group(spark, sf_dir):
    """Top-3 events by value per event_type (rank window, deterministic ties)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "event_id", F.round("value", 4).alias("value"))
    )


def q_event_type_rollup_totals(spark, sf_dir):
    """ROLLUP aggregation (per-type subtotals + grand total)."""
    ev = _t(spark, sf_dir, "events")
    return ev.rollup("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# multimodal: binary payload + typed metadata (decode stub / resize / frames)
# ---------------------------------------------------------------------------

def q_mm_decode_meta(spark, sf_dir):
    """Arrow-batched 'decode' of binary media payloads into typed metadata
    (deterministic fake decode; see operators/multimodal.py docstring)."""
    from ocr_spark.operators.multimodal import decode_media_meta, media_from_documents

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return decode_media_meta(media).select(
        "media_id", "kind", F.col("n_bytes").cast("bigint").alias("n_bytes"),
        "sha", "width", "height", "channels", "sample_rate",
        F.col("n_frames").cast("int").alias("n_frames"), "decode_ok",
    )


def q_mm_resize_plan(spark, sf_dir):
    """Downscale rule (≙ image_processor.py:100-107): longer side <= 512,
    never upscale; all builtin expressions after metadata decode."""
    from ocr_spark.operators.multimodal import (
        decode_media_meta,
        media_from_documents,
        resize_plan,
    )

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    return resize_plan(decode_media_meta(media), max_side=512)


def q_mm_frame_sample(spark, sf_dir):
    """Video frame sampling: explode every 2nd frame index, slice the
    payload JVM-side (binary substring), hash each frame slice."""
    from ocr_spark.operators.multimodal import (
        decode_media_meta,
        frame_sample,
        media_from_documents,
    )

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    meta = decode_media_meta(media).select("media_id", "kind", "n_frames")
    joined = media.select("media_id", "payload").join(meta, "media_id")
    frames = frame_sample(joined, every_k=2)
    return frames.select(
        "media_id",
        "frame_idx",
        F.length("frame_bytes").cast("bigint").alias("frame_n_bytes"),
        F.md5("frame_bytes").alias("frame_sha"),
    )


def q_tumbling_window_counts(spark, sf_dir):
    """Event-time tumbling window aggregation (batch twin of the
    streaming windowed_turn_counts; epoch-aligned 1-hour windows)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("win.start").cast("string").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# set ops / distinct aggregates / multi-dim aggregates (A9 + beyond-reference)
# ---------------------------------------------------------------------------

def q_set_ops(spark, sf_dir):
    """EXCEPT ALL + INTERSECT of two deterministic doc_id subsets, tagged."""
    doc = _t(spark, sf_dir, "documents")
    a = doc.filter(F.col("doc_id") % 2 == 0).select("doc_id")
    b = doc.filter(F.col("doc_id") % 3 == 0).select("doc_id")
    ex = a.exceptAll(b).withColumn("op", F.lit("except"))
    it = a.intersect(b).withColumn("op", F.lit("intersect"))
    return ex.unionByName(it)


def q_distinct_agg(spark, sf_dir):
    """Distinct-count aggregate (exact) per event_type."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count("*").cast("bigint").alias("n_events"),
    )


def q_cube_totals(spark, sf_dir):
    """CUBE over (event_type, user bucket): all subtotal combinations."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 4).cast("int")
    )
    return ev.cube("event_type", "user_bucket").agg(
        F.count("*").cast("bigint").alias("n_events")
    )


def q_median_value_per_type(spark, sf_dir):
    """Exact interpolated median of value per event_type."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("median_value")
    )


# ---------------------------------------------------------------------------
# text analysis, part 2 (BPE-ish tokens / script lang-id / rolling hash)
# ---------------------------------------------------------------------------

_BPE_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+"  # \\s: SQL literal unescaping


def q_token_count_bpe(spark, sf_dir):
    """BPE-ish subword-boundary token count: letter runs, digit runs, and
    punctuation runs each count separately (vs whitespace token_count)."""
    doc = _t(spark, sf_dir, "documents")
    return doc.select(
        "doc_id",
        F.expr(f"size(regexp_extract_all(text, '{_BPE_PATTERN}', 0))")
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


def q_lang_id_script(spark, sf_dir):
    """Unicode-script language ID: CJK codepoint density routes cjk vs
    latin-ish (complements the stopword-density heuristic)."""
    doc = _t(spark, sf_dir, "documents")
    n_cjk = F.expr("size(regexp_extract_all(text, '[一-鿿]', 0))")
    ratio = F.round(n_cjk / F.greatest(F.length("text"), F.lit(1)), 6)
    return doc.select(
        "doc_id",
        ratio.alias("cjk_ratio"),
        F.when(ratio > 0.05, "cjk").otherwise("latin-ish").alias("script_guess"),
    )


def q_rolling_hash_fingerprint(spark, sf_dir):
    """Order-sensitive polynomial rolling hash over word tokens
    (h = fold(h*31 + md5_64(token) mod p)) — reordering-sensitive
    fingerprint, unlike the bag-of-words md5 in doc_fingerprint."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    return toks.select(
        "doc_id",
        F.expr(
            "aggregate(transform(toks, t -> cast(conv(substr(md5(t), 1, 8), 16, 10) as bigint)),"
            " cast(0 as bigint), (acc, h) -> (acc * 31 + h) % 1000000007)"
        ).alias("rolling_hash"),
    )


# ---------------------------------------------------------------------------
# IVF approximate nearest neighbor (the coarse-quantizer scale path)
# ---------------------------------------------------------------------------

_IVF_K = 8


def _ivf_scored(spark, sf_dir):
    """Every (vector, centroid) L2 distance after the deterministic IVF
    train (init clusters by vec_id % k, centroids = element-wise means).

    Scale shape: centroids are k tiny rows -> broadcast join against the
    vector table (never a shuffle of the vectors); the element-wise mean
    is a posexplode + (cluster, dim) aggregation — fully distributed.
    """
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", (F.col("vec_id") % _IVF_K).cast("int").alias("c0")
    )
    dims = emb.select(
        "c0", F.posexplode(F.col("embedding")).alias("pos", "x")
    )
    centroids = (
        dims.groupBy("c0", "pos")
        .agg(F.avg(F.col("x").cast("double")).alias("m"))
        .groupBy("c0")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)").alias(
                "centroid"
            )
        )
    )
    dist = (
        "aggregate(zip_with(embedding, centroid, (x, c) -> (cast(x as double) - c) *"
        " (cast(x as double) - c)), cast(0.0 as double), (acc, v) -> acc + v)"
    )
    centroids = centroids.withColumnRenamed("c0", "cc")
    return emb.drop("c0").join(F.broadcast(centroids)).withColumn("dist", F.expr(dist))


def _ivf_assignments(spark, sf_dir):
    """One Lloyd reassignment by L2: each vector's nearest centroid."""
    scored = _ivf_scored(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cc").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", F.col("cc").alias("cluster"))
    )


def q_ivf_cluster_sizes(spark, sf_dir):
    """IVF index structure: vectors per cluster after one Lloyd step."""
    return (
        _ivf_assignments(spark, sf_dir)
        .groupBy("cluster")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.min("vec_id").cast("bigint").alias("min_vec_id"),
        )
    )


def q_ivf_search_topk(spark, sf_dir):
    """IVF probe: search only the query's cluster (nprobe=1), exact cosine
    within it — the ANN scale path vs the brute-force cosine_topk."""
    assigned = _ivf_assignments(spark, sf_dir)
    query = assigned.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding"), F.col("cluster").alias("q_cluster")
    )
    scored = (
        assigned.filter(F.col("vec_id") != 0)
        .join(F.broadcast(query), F.col("cluster") == F.col("q_cluster"))
        .withColumn(
            "cosine", F.round(F.expr(_cosine_expr("embedding", "q_embedding")), 4)
        )
    )
    return (
        scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(5)
        .select("vec_id", "cosine")
    )


def q_ivf_search_multiprobe(spark, sf_dir):
    """IVF multiprobe (nprobe=2): search the query's TWO nearest
    centroids' inverted lists — the standard recall knob for IVF indexes
    (a query near a cluster boundary misses true neighbors assigned to
    the runner-up centroid under nprobe=1).

    Distributed shape: the probe set is 2 tiny rows (query embedding x
    probe cluster) BROADCAST into an equi-join on cluster id, so search
    cost is the 2 probed lists, never the corpus; exact cosine +
    TakeOrdered on the candidates only. nprobe generalizes by changing
    the rank cutoff — the plan is unchanged."""
    scored = _ivf_scored(spark, sf_dir)
    assigned = _ivf_assignments(spark, sf_dir)
    wq = Window.partitionBy("vec_id").orderBy(F.col("dist").asc(), F.col("cc").asc())
    probes = (
        scored.filter(F.col("vec_id") == 0)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 2)
        .select(
            F.col("embedding").alias("q_embedding"),
            F.col("cc").alias("q_cluster"),
        )
    )
    cand = (
        assigned.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probes), F.col("cluster") == F.col("q_cluster"))
        .withColumn(
            "cosine", F.round(F.expr(_cosine_expr("embedding", "q_embedding")), 4)
        )
    )
    return (
        cand.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(5)
        .select("vec_id", "cosine")
    )


def q_session_window_agg(spark, sf_dir):
    """Native session windows (gap-based, the streaming-capable operator —
    vs the manual lag/cumsum in q_sessionize): 30-minute inactivity gap
    per user; window end = last event + gap."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.expr("unix_micros(to_utc_timestamp(sw.start, 'UTC'))").alias("session_start_us"),
            F.expr("unix_micros(to_utc_timestamp(sw.end, 'UTC'))").alias("session_end_us"),
            "n_events",
            "total_value",
        )
    )


def q_mm_feature_extract(spark, sf_dir):
    """Multimodal feature extraction slot: deterministic fake 8-dim feature
    vector per media payload via the Arrow-batched decode UDF path (real
    deployment swaps the md5 arithmetic for a model forward pass in the
    same mapInArrow slot). Feeds the ANN operators downstream.

    Emitted exploded as (media_id, j, feature) rows — scalar cells hash
    cleanly through the driver's canonicalizer (array cells do not), and
    the long shape is what a feature store ingests anyway; zip back with
    collect_list over j when an array is needed."""
    from ocr_spark.operators.multimodal import decode_media_meta, media_from_documents

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    meta = decode_media_meta(media).select("media_id", "sha")
    feat = F.expr(
        "transform(sequence(0, 7), j ->"
        " (cast(conv(substr(md5(concat(sha, '|', j)), 1, 4), 16, 10) as double) % 2000 - 1000) / 1000.0)"
    )
    return meta.select(
        "media_id", F.posexplode(feat).alias("j", "feature")
    ).select("media_id", F.col("j").cast("int").alias("j"), "feature")


def q_corpus_filter_pipeline(spark, sf_dir):
    """End-to-end training-corpus filter chain: exact dedupe (keep lowest
    doc_id per content hash) -> language gate -> quality threshold ->
    length cap. The composite every data pipeline runs before training."""
    doc = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2(F.col("text"), 256)).orderBy(F.col("doc_id").asc())
    deduped = doc.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    length = F.length("text")
    punct_ratio = (length - F.length(F.regexp_replace(F.col("text"), r"[.,;:!?]", ""))) / length
    quality = F.round(F.least(length, F.lit(400)).cast("double") / 400.0 * (1.0 - punct_ratio), 6)
    n_tokens = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    return (
        deduped.filter(F.col("lang") == "en")
        .withColumn("quality", quality)
        .withColumn("n_tokens", n_tokens.cast("bigint"))
        .filter((F.col("quality") >= 0.3) & (F.col("n_tokens") <= 200))
        .select("doc_id", "n_tokens", "quality")
    )


def q_tpch_q5ish(spark, sf_dir):
    """Regional revenue: 5-way join chain (region->nation->customer->
    orders->lineitem); Catalyst orders the joins and broadcasts the small
    dimensions."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").cast("bigint").alias("n_items"),
        )
    )


def q_t11_merge_lines(spark, sf_dir):
    """T11 made real (the reference declares merge_similar_lines but ships
    identity, `text_extractor.py:242-256`): merge OCR lines that share a
    row (same synthetic y) into one line, reading order preserved."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    words = toks.select(
        "doc_id",
        F.posexplode("toks").alias("pos", "w"),
    ).withColumn(
        "y",
        F.expr("cast(conv(substr(md5(concat(w, '|', doc_id)), 1, 2), 16, 10) as int) % 4"),
    )
    rows = words.groupBy("doc_id", "y").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, w))), s -> s.w), ' ')"
        ).alias("row_text"),
        F.count("*").cast("bigint").alias("n_words"),
    )
    return rows.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_merged_lines"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(y, row_text))), s -> s.row_text), '\\n')"
        ).alias("merged_text"),
    )


def q_line_stats_agg(spark, sf_dir):
    """T9 line_stats over synthesized confidence lines: total/avg/min/max/
    low-confidence counts (`text_extractor.py:219-240`)."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    lines = toks.select(
        "doc_id",
        F.explode("toks").alias("w"),
    ).withColumn(
        "confidence",
        F.expr("cast(conv(substr(md5(w), 1, 4), 16, 10) as double) / 65535.0"),
    )
    return lines.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("total_lines"),
        F.sum(F.length("w")).cast("bigint").alias("total_characters"),
        F.round(F.avg("confidence"), 6).alias("average_confidence"),
        F.round(F.min("confidence"), 6).alias("min_confidence"),
        F.round(F.max("confidence"), 6).alias("max_confidence"),
        F.expr("count_if(confidence < 0.5)").cast("bigint").alias("low_confidence_lines"),
    )


def q_value_histogram(spark, sf_dir):
    """Equi-width histogram of event values (width_bucket)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("bucket", F.expr("width_bucket(value, 0.0, 100.0, 10)").cast("int"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


def q_asof_join_view_value(spark, sf_dir):
    """As-of join: each 'click' event takes the value of the latest 'view'
    event by the same user at-or-before its timestamp.

    Spark-first shape: instead of a per-row correlated lookup or a
    quadratic range join, tag both streams, union them, and carry the
    last view value forward with ONE window over (user_id, ts) — a
    single shuffle on the join key, skew-handled by AQE. Ties resolve
    views-before-clicks, then highest event_id (deterministic).
    """
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter("event_type = 'click'").select(
        "event_id",
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("double").alias("v"),
    )
    views = ev.filter("event_type = 'view'").select(
        "event_id", "user_id", "ts", F.lit(0).alias("side"), F.col("value").alias("v")
    )
    u = clicks.unionByName(views)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("asof_view_value", F.round(F.last("v", ignorenulls=True).over(w), 4))
        .filter("side = 1")
        .select("event_id", "user_id", "ts", "asof_view_value")
    )


def q_range_join_click_burst(spark, sf_dir):
    """Range join: per 'error' event, the number of same-user 'click'
    events in the preceding 5 minutes.

    Spark-first shape: quantize time into 5-minute buckets so the range
    predicate becomes an equi-join on (user_id, bucket) — each error
    probes its own and the previous bucket — then the exact range filter
    prunes the bucket edges. A shuffle-partitioned hash join instead of
    the broadcast-nested-loop plan a raw BETWEEN join would pick.
    """
    ev = _t(spark, sf_dir, "events")
    win_us = 300 * 1_000_000  # 5 minutes in epoch micros
    epoch = F.expr("unix_micros(to_utc_timestamp(ts, 'UTC'))")
    errors = ev.filter("event_type = 'error'").select(
        "event_id", "user_id", epoch.alias("t_err")
    )
    clicks = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("c_user"), epoch.alias("t_click")
    )
    bucket = (F.col("t_err") / win_us).cast("long")
    probe = errors.select(
        "event_id",
        "user_id",
        "t_err",
        F.explode(F.array(bucket, bucket - 1)).alias("bucket"),
    )
    hashed = clicks.withColumn("bucket", (F.col("t_click") / win_us).cast("long"))
    joined = probe.join(
        hashed,
        (probe.user_id == hashed.c_user)
        & (probe.bucket == hashed.bucket)
        & (hashed.t_click >= probe.t_err - win_us)
        & (hashed.t_click < probe.t_err),
        "inner",
    )
    counts = joined.groupBy("event_id").agg(
        F.count("*").cast("bigint").alias("clicks_5m")
    )
    return errors.select("event_id").join(counts, "event_id", "left").select(
        "event_id",
        F.coalesce("clicks_5m", F.lit(0).cast("bigint")).alias("clicks_5m"),
    )


def q_json_extract_props(spark, sf_dir):
    """Semi-structured access: parse the JSON props column with a typed
    from_json (JVM-side, codegen) and aggregate the extracted field."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType([StructField("k", IntegerType())])
    return (
        ev.withColumn("k", F.from_json("props", schema)["k"])
        .groupBy("event_type")
        .agg(
            F.count("k").cast("bigint").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
        )
    )


def q_pivot_event_values(spark, sf_dir):
    """Pivot: per user, total value by event type as columns (explicit
    pivot value list so the plan is a single pass, no distinct probe)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "error"])
        .agg(F.round(F.sum("value"), 4))
        .select(
            "user_id",
            F.col("click").alias("click_value"),
            F.col("view").alias("view_value"),
            F.col("error").alias("error_value"),
        )
    )


def q_unpivot_stats(spark, sf_dir):
    """Unpivot (melt): wide per-user aggregates back to long (metric,
    value) rows via the stack expression — one pass, no union of scans."""
    ev = _t(spark, sf_dir, "events")
    wide = ev.groupBy("user_id").agg(
        F.round(F.sum("value"), 4).alias("total"),
        F.round(F.avg("value"), 4).alias("mean"),
        F.count("*").cast("double").alias("n"),
    )
    return wide.select(
        "user_id",
        F.expr(
            "stack(3, 'total', total, 'mean', mean, 'n', n) as (metric, metric_value)"
        ),
    )


def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster assignment: connected components over the
    verified MinHash-LSH pair graph by iterative min-label propagation
    (the distributed union-find for dedup graphs; ≙ keeping one
    representative per duplicate cluster in a training-data pipeline).

    Scale shape: each iteration is one equi-join + partial-aggregated
    groupBy on doc_id; dedup components are tiny (diameter ~2-3), so the
    loop converges in a handful of rounds. The driver-side loop is the
    iteration control only — all data stays distributed.
    """
    from ocr_spark import dedup

    return dedup.connected_components(
        q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    )


def q_dedup_cluster_representatives(spark, sf_dir):
    """Canonical-document selection per near-dup cluster: the step after
    clustering where a training pipeline keeps ONE representative (the
    highest-quality member; doc_id breaks ties) and drops the rest.

    Composition of q_dedup_clusters + q_quality_score; the argmax is a
    cluster-keyed row_number window (dedup clusters are tiny, so no key
    is hot) plus a cluster-size count for audit."""
    from ocr_spark import dedup

    return dedup.representatives(
        q_dedup_clusters(spark, sf_dir), q_quality_score(spark, sf_dir)
    )


_SAMPLE_RATES = {"en": 30, "fr": 100, "es": 80, "zh": 60, "de": 100}  # percent


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling for training-data mixtures:
    per-language keep rates applied via a content-keyed hash predicate
    (md5(doc_id) mod 100 < rate), so the sample is reproducible across
    runs, partitionings, and engines — unlike rng-based sampleBy. One
    narrow filter; the rate map rides along as a literal expression."""
    doc = _t(spark, sf_dir, "documents")
    bucket = F.expr("cast(conv(substr(md5(cast(doc_id as string)), 1, 8), 16, 10) as bigint) % 100")
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in _SAMPLE_RATES.items()],
        F.lit(0),
    )
    return (
        doc.withColumn("bucket", bucket)
        .filter(F.col("bucket") < rate)
        .groupBy("lang")
        .agg(F.count("*").cast("bigint").alias("n_sampled"))
    )


def q_mixture_rebalance(spark, sf_dir):
    """Mixture rebalancing by integer upsampling: low-resource languages
    are replicated k times via explode(sequence(1, k)) — a narrow
    generate, no shuffle, no rng. Returns the rebalanced per-language
    row and byte counts a mixture report needs."""
    doc = _t(spark, sf_dir, "documents")
    mult = (
        F.when(F.col("lang") == "en", 1)
        .when(F.col("lang") == "zh", 2)
        .otherwise(3)
    )
    return (
        doc.withColumn("copy", F.explode(F.sequence(F.lit(1), mult)))
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# training-corpus hygiene operators (the C4/Gopher-style filter batteries a
# web-scale LLM data pipeline runs; all distributed, all oracle-checked)
# ---------------------------------------------------------------------------

_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PHONE_RE = r"555-[0-9]{4}"


def _noisy_sql() -> str:
    return (
        "replace(replace(text, ' value ', ' bob.smith@example.com '),"
        " ' data ', ' call 555-0147 ')"
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction: emails/phones replaced with typed placeholders, with
    per-doc match counts for audit lineage. PII is injected
    deterministically first (the fixture corpus is clean), mirroring the
    t5 inject-then-operate pattern. One narrow projection — regex stays
    JVM-side at any scale.

    The count patterns are passed as Column literals (F.lit), NOT
    interpolated into F.expr SQL text: SQL string-literal parsing eats
    the backslash in ``\\.``, silently counting with a different pattern
    than the one the scrub applies."""
    doc = _t(spark, sf_dir, "documents")
    noisy = F.expr(_noisy_sql())
    scrubbed = F.regexp_replace(
        F.regexp_replace(noisy, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return doc.select(
        "doc_id",
        F.size(F.regexp_extract_all(noisy, F.lit(_EMAIL_RE), F.lit(0)))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(noisy, F.lit(_PHONE_RE), F.lit(0)))
        .cast("int")
        .alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )


def q_gopher_quality_filter(spark, sf_dir):
    """Gopher-style document quality gates (Rae et al. 2021 §A1.1):
    token-count bounds, mean-word-length band, alphabetic-word fraction.
    Narrow arithmetic over the token array; `keep` is the gate a corpus
    pipeline filters on."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    n = F.size("toks")
    mean_len = F.expr(
        "aggregate(toks, 0L, (acc, w) -> acc + length(w)) / cast(size(toks) as double)"
    )
    alpha_frac = F.expr(
        "size(filter(toks, w -> w rlike '^[a-zA-Z]+$')) / cast(size(toks) as double)"
    )
    return toks.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.round(mean_len, 4).alias("mean_word_len"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        (
            (n >= 50)
            & (n <= 100000)
            & (mean_len >= 3)
            & (mean_len <= 10)
            & (alpha_frac >= 0.8)
        ).alias("keep"),
    )


def q_repetition_filter(spark, sf_dir):
    """Gopher repetition gate: fraction of a doc's word bigrams taken by
    its single most frequent bigram; docs above 0.2 are flagged as
    repetitive boilerplate. Distributed shape: explode bigrams ->
    two partial-aggregated groupBys (never per-doc python)."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "case when size(toks) >= 2 then transform(sequence(1, size(toks) - 1),"
                " i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1)))"
                " else cast(array() as array<string>) end"
            )
        ).alias("gram"),
    )
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("cnt"))
    return per_gram.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_2grams"),
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_2gram_frac"),
        (F.max("cnt") / F.sum("cnt") > 0.2).alias("repetitive"),
    )


def q_chunk_dedup_keep_first(spark, sf_dir):
    """C4-style corpus-level exact chunk dedup: split every doc into
    10-token chunks, keep only the FIRST occurrence of each distinct
    chunk across the whole corpus (by lowest (doc_id, chunk_idx)), and
    report each doc's survival fraction.

    Distributed shape — the full chunk-text stream is shuffled exactly
    ONCE: (a) per-doc chunk counts are narrow arithmetic on the token
    count (ceil(n/10)) — no explode, no shuffle;
    (b) one groupBy(chunk) reduces each distinct chunk to its
    first-occurrence holder via a lexicographic (doc_id, chunk_idx)
    struct-min (never an arithmetic composite key — that collides at
    >=1M chunks/doc and overflows past doc_id ~9.2e12), and per-doc kept
    counts aggregate over those winners; (c) a doc-keyed join (both
    sides doc-cardinality, AQE-broadcast-able) assembles the fractions.
    The earlier shape joined the chunk stream back to the winners —
    a second full-text shuffle that this formulation eliminates.
    At 100 TB the groupBy key would be sha2(chunk) to bound width."""
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, cast(ceil(size(toks) / 10.0) as int) - 1),"
                " i -> array_join(slice(toks, i * 10 + 1, 10), ' '))"
            )
        ).alias("chunk_idx", "chunk"),
    )
    # per-doc totals need no explode and no shuffle: the chunk count is a
    # pure function of the token count (narrow arithmetic on the scan)
    totals = toks.select(
        "doc_id",
        F.expr("cast(ceil(size(toks) / 10.0) as bigint)").alias("n_chunks"),
    )
    kept = (
        chunks.groupBy("chunk")
        .agg(F.min(F.struct("doc_id", "chunk_idx")).alias("first_occ"))
        .groupBy(F.col("first_occ.doc_id").alias("doc_id"))
        .agg(F.count("*").cast("bigint").alias("n_kept"))
    )
    return (
        totals.join(kept, "doc_id", "left")
        .withColumn("n_kept", F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint"))
        .select(
            "doc_id",
            "n_chunks",
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_chunks"), 6).alias("kept_frac"),
        )
    )


_WINNOW_K = 3  # tokens per k-gram
_WINNOW_W = 4  # hashes per window


def q_winnowing_fingerprint(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003):
    positional 3-token k-gram hashes, minimum of each sliding window of
    4, distinct selected hashes per doc — the guarantee-bearing local
    fingerprinting used for plagiarism/overlap detection. Per-doc array
    math (narrow); output exploded for the driver's scalar hash."""
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    hs = toks.select(
        "doc_id",
        F.expr(
            "case when size(toks) >= 3 then transform(sequence(1, size(toks) - 2),"
            " i -> cast(conv(substr(md5(concat_ws(' ', element_at(toks, i),"
            " element_at(toks, i + 1), element_at(toks, i + 2))), 1, 8), 16, 10) as bigint))"
            " else cast(array() as array<bigint>) end"
        ).alias("hs"),
    )
    fps = (
        f"case when size(hs) >= {_WINNOW_W} then"
        f" array_distinct(transform(sequence(1, size(hs) - {_WINNOW_W} + 1),"
        f" p -> array_min(slice(hs, p, {_WINNOW_W}))))"
        f" else cast(array() as array<bigint>) end"
    )
    return hs.select("doc_id", F.explode(F.expr(fps)).alias("fingerprint"))


_DECON_EVAL_MOD = 97  # eval set = doc_id % 97 == 0 (~1% held-out benchmark)


def q_benchmark_decontam(spark, sf_dir):
    """Benchmark decontamination: flag training docs that share any word
    n-gram with a held-out eval set (the GPT-3 appendix-C rule; Gopher
    §A.3 uses the same shape). Width 3 here so the synthetic corpus
    produces non-trivial overlap; production uses 13-grams — the plan is
    width-independent.

    Distributed shape: the eval set's distinct grams are BROADCAST, so
    the scan of training grams joins map-side with no shuffle of the big
    side; per-doc hit counts partial-aggregate. In production ev is an
    external, fixed-size benchmark table (KBs-MBs at any corpus scale),
    which is why the hint is forced; this fixture's doc_id%97 stand-in
    grows with sf, so a large-sf run would swap in the real eval table
    rather than raise the broadcast limit. Docs with <3 tokens have no
    grams and are absent on both engines (minhash convention)."""
    from ocr_spark.dedup import exact_decontam_report

    grams = _shingles_df(spark, sf_dir)
    ev = grams.filter(F.col("doc_id") % _DECON_EVAL_MOD == 0)
    train = grams.filter(F.col("doc_id") % _DECON_EVAL_MOD != 0)
    return exact_decontam_report(train, ev)


def q_fuzzy_decontam(spark, sf_dir):
    """MinHash-band fuzzy decontamination (near-dup eval overlap, the
    complement of benchmark_decontam's exact-gram rule): eval set =
    doc_id % 97 == 0 (stand-in for the external benchmark table), train
    = the rest; flag train docs whose best exact-Jaccard against a
    band-colliding eval doc is >= 0.25. Delegates to the production
    ``ocr_spark.dedup.fuzzy_decontam_report`` so the oracle
    value-checks the shipped code path; see its docstring for the
    broadcast-eval-keys / candidate-first-verify shape."""
    from ocr_spark.dedup import fuzzy_decontam_report

    doc = _t(spark, sf_dir, "documents").select("doc_id", "text")
    evalset = doc.filter(F.col("doc_id") % _DECON_EVAL_MOD == 0)
    train = doc.filter(F.col("doc_id") % _DECON_EVAL_MOD != 0)
    return fuzzy_decontam_report(train, evalset)


_PACK_SEQ_LEN = 2048  # training sequence length (tokens)
_PACK_SHARDS = 64  # packing shards; each packs independently


def q_sequence_packing(spark, sf_dir):
    """GPT-style concat-and-slice sequence packing plan: documents are
    concatenated per shard in doc_id order and sliced into fixed
    2048-token training sequences; emits each doc's token span and the
    first/last sequence it lands in (docs straddle boundaries, as in
    pretraining concat+chunk).

    Distributed shape: the running-offset window is keyed by a 64-way
    shard — each shard packs independently, so there is never a global
    single-partition sort; at 100 TB shards map to writer tasks."""
    doc = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    d = doc.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        (F.col("doc_id") % _PACK_SHARDS).cast("int").alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    end = F.sum("n_tokens").over(w)
    return d.select(
        "doc_id",
        "shard",
        "n_tokens",
        (end - F.col("n_tokens")).alias("tok_start"),
        end.alias("tok_end"),
        F.floor((end - F.col("n_tokens")) / _PACK_SEQ_LEN)
        .cast("bigint")
        .alias("first_seq"),
        F.floor((end - 1) / _PACK_SEQ_LEN).cast("bigint").alias("last_seq"),
    )


def q_bpe_top_merges(spark, sf_dir):
    """The inner statistic of BPE tokenizer training (Sennrich et al.
    2016): corpus-wide frequencies of adjacent character pairs inside
    words, top 50 — the candidates for the next merge rule.

    Distributed shape: explode words -> explode in-word pairs (narrow,
    array math in codegen) -> partial-aggregated count -> top-k via
    TakeOrderedAndProject (k rows per partition to the driver, never a
    global sort). At 100 TB tokenizer training runs exactly this plan
    per merge round over a sampled corpus."""
    doc = _t(spark, sf_dir, "documents")
    words = doc.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(50)
    )


def q_url_domain_histogram(spark, sf_dir):
    """URL extraction + per-domain rollup (link graph / source-mix audit).
    URLs are injected deterministically (clean fixture); extraction is a
    JVM-side regex, the rollup a partial-aggregated groupBy."""
    doc = _t(spark, sf_dir, "documents")
    noisy = (
        "replace(replace(text, ' spark ', ' see https://docs.example.org/guide '),"
        " ' join ', ' http://data.example.net/x?y=1 ')"
    )
    urls = doc.select(
        "doc_id",
        F.explode(F.expr(f"regexp_extract_all({noisy}, 'https?://[^ ]+', 0)")).alias(
            "url"
        ),
    )
    return (
        urls.withColumn("domain", F.regexp_extract("url", r"^https?://([^/]+)", 1))
        .groupBy("domain")
        .agg(
            F.count("*").cast("bigint").alias("n_urls"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
    )


def q_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (feature extraction / keyword
    tagging). Corpus DF via explode-distinct + groupBy; per-doc TF via
    explode + groupBy; rank on the ROUNDED score (cross-engine double
    determinism) with term as tiebreak. The per-doc window partitions on
    doc_id — never a global window."""
    doc = _t_spread(spark, sf_dir, "documents")
    n_docs = doc.count()  # scalar: one job over parquet row-group metadata
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    terms = toks.select("doc_id", F.explode("toks").alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = (
        terms.distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    scored = tf.join(df, "term").withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", F.col("rn").cast("int").alias("rank"), "term", "tfidf")
    )


def q_bigram_lm_score(spark, sf_dir):
    """Corpus-trained bigram language-model scoring with add-one
    smoothing: score(doc) = mean over its bigrams of
    ln((c(w1,w2)+1) / (c(w1)+V)) — the perplexity-style fluency gate of
    a data pipeline, self-trained on the corpus. Three partial-aggregated
    groupBys; the unigram join lands on the VOCAB-sized bigram table
    (|distinct bigrams| rows), so the corpus-sized gram stream crosses
    exactly ONE equi-join — joining c1 onto the stream directly would
    shuffle the full corpus twice for the same numbers."""
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    words = toks.select("doc_id", F.explode("toks").alias("w"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "case when size(toks) >= 2 then transform(sequence(1, size(toks) - 1),"
                " i -> struct(element_at(toks, i) as w1, element_at(toks, i + 1) as w2))"
                " else cast(array() as array<struct<w1:string,w2:string>>) end"
            )
        ).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    c12 = grams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c1 = words.groupBy(F.col("w").alias("w1")).agg(F.count("*").alias("c1"))
    vocab = words.select("w").distinct().count()
    pair_scores = c12.join(c1, "w1").select(
        "w1",
        "w2",
        F.log((F.col("c12") + 1) / (F.col("c1") + F.lit(float(vocab)))).alias("logp"),
    )
    scored = grams.join(pair_scores, ["w1", "w2"])
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.round(F.avg("logp"), 4).alias("avg_logprob"),
    )


def q_grouping_sets_value(spark, sf_dir):
    """Explicit GROUPING SETS: totals by (type), by (user), and grand
    total in ONE aggregation pass (vs three scans unioned)."""
    ev = _t(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_gs")
    return spark.sql(
        """
        SELECT event_type, user_id,
               CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 4) AS total_value
        FROM events_gs
        GROUP BY GROUPING SETS ((event_type), (user_id), ())
        """
    )


def q_tpch_q12ish(spark, sf_dir):
    """TPC-H Q12 shape: lineitem joined to orders, counting urgent vs
    non-urgent order lines per linestatus inside a ship-date window.
    The join shuffles on orderkey; both predicates push to the scans."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.expr(
                "count_if(o_orderpriority in ('1-URGENT', '2-HIGH'))"
            ).cast("bigint").alias("high_line_count"),
            F.expr(
                "count_if(o_orderpriority not in ('1-URGENT', '2-HIGH'))"
            ).cast("bigint").alias("low_line_count"),
        )
    )


def q_tpch_q14ish(spark, sf_dir):
    """TPC-H Q14 shape: promo revenue share — conditional sum over a
    lineitem x part join (part side broadcasts)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return joined.agg(
        F.round(
            100.0
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
            / F.sum(rev),
            6,
        ).alias("promo_revenue_pct")
    )


# ---------------------------------------------------------------------------
# round 3: split assignment, hashed classifier, blocklist filter,
# distribution statistics (the remaining standard stages of a
# training-data curation pipeline)
# ---------------------------------------------------------------------------

def q_train_eval_split(spark, sf_dir):
    """Deterministic train/val/test split with per-source stratification
    proof. Split is content-keyed (md5 of doc_id + text -> bucket 0-99:
    <90 train, <95 val, else test), so membership is reproducible across
    runs/clusters and adding documents never reshuffles existing ones —
    the property a 100 TB curation pipeline needs for stable eval sets.
    Narrow per-row hashing + one partial-aggregated groupBy; no joins.
    """
    from ocr_spark.functions import split_assign

    doc = _t(spark, sf_dir, "documents")
    return (
        doc.select("source", split_assign("doc_id", "text").alias("split"))
        .groupBy("source", "split")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


def q_hashed_ngram_classifier(spark, sf_dir):
    """fastText-style linear quality classifier over hashed word bigrams:
    bigram -> 16-bit md5 bucket -> deterministic integer weight
    (Knuth-hash of the bucket, centered), mean-pooled and squashed with a
    sigmoid. Scoring is per-row array math (higher-order functions inside
    whole-stage codegen — no explode, no key shuffle; the only exchange
    is _t_spread's round-robin of an under-parallelized scan): the 100 TB
    shape for model-free quality scoring. The weight sum stays in INTEGER
    arithmetic so Spark and the DuckDB oracle agree bit-for-bit; only the
    final sigmoid is float."""
    from ocr_spark.functions import hashed_bigram_score, tokens

    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select("doc_id", tokens("text").alias("toks"))
    score = hashed_bigram_score("toks")
    return toks.filter(score.isNotNull()).select(
        "doc_id", score.alias("quality_score")
    )


_BLOCKED_SOURCES = ("src3", "src7", "src13")


def q_domain_blocklist_filter(spark, sf_dir):
    """URL/domain blocklist filtering (the robots/abuse-list stage of a
    web-corpus pipeline): documents whose source domain appears in a
    blocklist TABLE are dropped via a broadcast LEFT ANTI join. The
    blocklist is a table, not a literal IN-list, because at production
    scale it is maintained externally and refreshed per run — but it is
    always tiny relative to the corpus, so it must broadcast (plan-test
    pinned): the 100 TB training side never shuffles."""
    doc = _t(spark, sf_dir, "documents")
    blocked = spark.createDataFrame(
        [(s,) for s in _BLOCKED_SOURCES], "source string"
    )
    kept = doc.join(F.broadcast(blocked), "source", "left_anti")
    return kept.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
    )


def q_doclen_percentiles(spark, sf_dir):
    """Distribution statistics for corpus QA: exact interpolated
    percentiles of document length per language. Uses Spark's
    ``percentile`` (exact, linear interpolation — matches DuckDB
    quantile_cont); at 100 TB swap in ``percentile_approx`` (t-digest
    sketch, mergeable map-side) and the plan shape is unchanged: one
    partial-aggregated groupBy."""
    doc = _t(spark, sf_dir, "documents")
    return doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5D)"), 4).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9D)"), 4).alias("p90"),
        F.round(F.expr("percentile(n_chars, 0.99D)"), 4).alias("p99"),
    )


def q_token_entropy(spark, sf_dir):
    """Per-document token (unigram) entropy in nats — the repetition /
    degenerate-text signal (low entropy = copy-paste or template spam).
    Shape: explode -> one partial-aggregated groupBy(doc_id, token) ->
    one groupBy(doc_id) using the decomposition
    H = ln(n) - sum(c*ln c)/n, which needs only per-token counts (both
    aggregations combine map-side; no collect, no window)."""
    doc = _t_spread(spark, sf_dir, "documents")
    tok = doc.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
    )
    counts = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.log(F.col("c"))).alias("clogc"),
        )
        .select(
            "doc_id",
            F.round(F.log(F.col("n")) - F.col("clogc") / F.col("n"), 6).alias(
                "entropy_nats"
            ),
        )
    )


def q_merge_consecutive_runs(spark, sf_dir):
    """Run-length merge of consecutive same-value rows within an ordered
    group — the transcript normalization that merges consecutive
    same-role turns (reference analog: merge_similar_lines, made real
    over ordered groups). Recast over the driver tables: within each
    source (ordered by doc_id), consecutive docs sharing a lang collapse
    to one run row. Shape: one window shuffle on the group key computes
    a change flag (lag) and a running run id (sum over the flag) — the
    standard gaps-and-islands plan; per-run aggregation then combines
    map-side. No self-join, no collect."""
    doc = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    flagged = doc.select(
        "source",
        "doc_id",
        "lang",
        F.when(
            F.lag("lang").over(w).isNull() | (F.lag("lang").over(w) != F.col("lang")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    runs = flagged.withColumn(
        "run_idx",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return runs.groupBy("source", "run_idx").agg(
        F.first("lang").alias("lang"),
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("first_doc_id"),
        F.max("doc_id").cast("bigint").alias("last_doc_id"),
    ).withColumn("run_idx", F.col("run_idx").cast("bigint"))


_RAG_CHUNK = 64  # tokens per chunk
_RAG_STRIDE = 48  # chunk start stride (=> 16-token overlap)


def q_overlapping_chunks(spark, sf_dir):
    """RAG-style overlapping chunking: fixed-size token windows at a
    fixed stride (64-token chunks, 16-token overlap) — the retrieval
    indexing prep stage. Narrow per-row array math (transform over a
    stride sequence + explode); chunk count is a pure function of token
    count, so no shuffle is needed at any corpus size."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    n = F.size("toks")
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(greatest(ceil((size(toks) - {_RAG_CHUNK})"
                f" / {_RAG_STRIDE}.0), 0) as int)),"
                f" i -> array_join(slice(toks, i * {_RAG_STRIDE} + 1, {_RAG_CHUNK}), ' '))"
            )
        ).alias("chunk_idx", "chunk"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.size(F.split(F.col("chunk"), r"\s+")).cast("int").alias("n_tokens"),
        "chunk",
    )


# ---------------------------------------------------------------------------
# round 3 (cont.): line-level dedup rebuild / DSIR / SemDeDup / mixture temp
# ---------------------------------------------------------------------------

def q_line_dedup_rebuild(spark, sf_dir):
    """CCNet-style corpus-level line dedup WITH document reconstruction:
    split every doc into fixed 10-token segments (the driver corpus is
    single-line, so segments stand in for lines), keep only the first
    occurrence of each distinct segment across the corpus (lexicographic
    (doc_id, seg_idx) struct-min, as in chunk_dedup_keep_first), then
    REBUILD each document's surviving text by re-concatenating its kept
    segments in original order. This is the production shape of CCNet /
    C4 dedup — the step that actually emits the deduplicated corpus, not
    just survival stats.

    Distributed shape: segment stream shuffles once on groupBy(segment);
    winners (≤ one row per distinct segment) shuffle once more on doc_id
    for the ordered rebuild — both keys are well-spread, and the rebuild
    side is already deduplicated so its volume is bounded by the distinct
    text, not the raw corpus. No join back to the full segment stream.
    At 100 TB the dedup key would be sha2(segment) to bound shuffle width.
    """
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, cast(ceil(size(toks) / 10.0) as int) - 1),"
                " i -> array_join(slice(toks, i * 10 + 1, 10), ' '))"
            )
        ).alias("seg_idx", "seg"),
    )
    winners = (
        segs.groupBy("seg")
        .agg(F.min(F.struct(F.col("doc_id"), F.col("seg_idx").cast("bigint").alias("seg_idx"))).alias("first"))
        .select(
            F.col("first.doc_id").alias("doc_id"),
            F.col("first.seg_idx").alias("seg_idx"),
            "seg",
        )
    )
    return winners.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(seg_idx, seg))),"
            " s -> s.seg), ' ')"
        ).alias("kept_text"),
    )


_DSIR_BUCKETS = 1024  # hashed-bigram feature space (DSIR, Xie et al. 2023)


def q_dsir_importance(spark, sf_dir):
    """DSIR (Data Selection via Importance Resampling): per-document log
    importance weight log w(x) = sum_b c_b(x) * (ln p_target(b) -
    ln p_raw(b)) over hashed-bigram bucket features with add-one
    smoothing. Target distribution = the corpus's lang='en' slice; raw =
    the whole corpus. Documents are then resampled proportionally to
    w(x) to tilt a web-scale corpus toward the target domain.

    Distributed shape: the corpus is exploded and aggregated exactly
    ONCE — a single partial-aggregated groupBy(doc_id, lang, bucket)
    feeds both the bucket histograms and the per-doc scoring side (a doc
    has one lang, so the branches are projections of the same aggregate
    and Catalyst reuses its exchange). Raw/target totals come from a
    window over the ≤1024-row histogram (never a rescan, never a driver
    collect), and the ≤1024-row weight table BROADCASTS into the per-doc
    scoring join: the 100 TB side shuffles once on (doc_id, lang,
    bucket) and never moves again.
    """
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", "lang", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    grams = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "case when size(toks) >= 2 then transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
                " else cast(array() as array<string>) end"
            )
        ).alias("g"),
    ).withColumn(
        "bucket",
        F.expr(f"cast(conv(substr(md5(g), 1, 4), 16, 10) as bigint) % {_DSIR_BUCKETS}"),
    )
    # one doc has one lang, so (doc_id, bucket) groups == (doc_id, lang,
    # bucket) groups: this single aggregate serves every downstream branch.
    # The explicit isnotnull matches the filter the scoring join infers on
    # its own branch, so BOTH branches canonicalize to the same subtree and
    # AQE reuses one exchange — one physical scan+explode of the corpus.
    per = (
        grams.filter(F.col("bucket").isNotNull())
        .groupBy("doc_id", "lang", "bucket")
        .agg(F.count("*").alias("c"))
    )
    hist = per.groupBy("bucket").agg(
        F.sum("c").alias("c_raw"),
        F.sum(F.when(F.col("lang") == "en", F.col("c")).otherwise(0)).alias("c_tgt"),
    )
    wall = Window.partitionBy()  # over the ≤1024-row histogram only
    weights = hist.select(
        "bucket",
        (
            F.log(
                (F.col("c_tgt") + 1)
                / (F.sum("c_tgt").over(wall) + _DSIR_BUCKETS).cast("double")
            )
            - F.log(
                (F.col("c_raw") + 1)
                / (F.sum("c_raw").over(wall) + _DSIR_BUCKETS).cast("double")
            )
        ).alias("lw"),
    )
    return (
        per.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("c") * F.col("lw")), 4).alias("log_importance"))
    )


# shared with the DuckDB oracle via ocr_spark.params so the two sides
# cannot drift (same contract as the training-loop depths)
_SEMDEDUP_TAU = _params.SEMDEDUP_TAU
_SEMDEDUP_MAX_CLUSTER = _params.SEMDEDUP_MAX_CLUSTER


def semdedup_pairs(
    assigned,
    tau: float = _SEMDEDUP_TAU,
    max_cluster: int = _SEMDEDUP_MAX_CLUSTER,
):
    """SemDeDup pairing with a skew guard, over any (vec_id, embedding,
    cluster) assignment table.

    Skew guard: a degenerate centroid (one Lloyd step on clumpy real
    embeddings routinely leaves one mega-cluster) would recreate the
    N^2 edge SemDeDup exists to avoid — |c|^2 with |c| ~ N IS N^2. So
    clusters larger than ``max_cluster`` are split into
    ceil(|c|/max_cluster) sub-clusters by a deterministic content hash
    of vec_id, and pairs are generated within (cluster, sub) only. This
    bounds per-group candidate volume to ~max_cluster^2 regardless of
    the clustering's quality (pinned in tests/test_plans.py), at a
    recall trade SemDeDup already makes by clustering at all: a
    duplicate pair split across sub-clusters is missed, exactly as a
    pair split across centroids is. The cluster-size table is
    centroid-cardinality-sized and broadcast; nothing else is added to
    the original one-shuffle shape.
    """
    sizes = assigned.groupBy("cluster").agg(F.count("*").alias("_csize"))
    sub = (
        F.expr("cast(conv(substr(md5(cast(vec_id as string)), 1, 8), 16, 10) as bigint)")
        % F.ceil(F.col("_csize") / F.lit(float(max_cluster))).cast("bigint")
    ).cast("int")
    keyed = assigned.join(F.broadcast(sizes), "cluster").withColumn("sub", sub)
    a = keyed.select(
        F.col("vec_id").alias("keep_id"), F.col("embedding").alias("ea"),
        "cluster", "sub",
    )
    b = keyed.select(
        F.col("vec_id").alias("dup_vec_id"), F.col("embedding").alias("eb"),
        "cluster", "sub",
    )
    return (
        a.join(b, ["cluster", "sub"])
        .filter(F.col("keep_id") < F.col("dup_vec_id"))
        .withColumn("cosine", F.expr(_cosine_expr("ea", "eb")))
        .filter(F.col("cosine") >= tau)
    )


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup that only compares
    embeddings WITHIN a k-means cluster — assign every vector to its
    nearest IVF centroid (shared ``_ivf_assignments``: deterministic
    init, one Lloyd step, centroids broadcast), then inside each cluster
    mark any vector that has a lower-id neighbor with cosine >= tau as a
    semantic duplicate of that neighbor. Emits one row per duplicate:
    the keeper (lowest-id qualifying neighbor) and the strongest cosine.

    Distributed shape: the pairwise stage is an equi-join on (cluster,
    sub) — candidate volume is sum_c |c|^2 instead of N^2, the whole
    point of SemDeDup, with ``semdedup_pairs``'s max-cluster-size hash
    split bounding |c| so a degenerate centroid can't recreate N^2.
    Never a cross join; the threshold is applied on the unrounded
    cosine identically in the oracle."""
    pairs = semdedup_pairs(_ivf_assignments(spark, sf_dir))
    return pairs.groupBy("dup_vec_id").agg(
        F.min("keep_id").cast("bigint").alias("kept_vec_id"),
        F.round(F.max("cosine"), 4).alias("max_cosine"),
    )


_MIX_ALPHA = 0.7  # temperature exponent (mT5-style alpha sampling)


def q_source_mixture_weights(spark, sf_dir):
    """Temperature-based mixture weighting (mT5/XLM-R alpha sampling):
    per-source sampling weight w_s = n_tokens_s^alpha / sum_s' n^alpha
    with alpha=0.7 — upweights small sources relative to their raw token
    share when composing a training mixture.

    Distributed shape: one partial-aggregated groupBy(source) reduces
    the corpus to |sources| rows — the ONLY scan and the only shuffle of
    the corpus; the normalizer is an unpartitioned window over that tiny
    aggregated table (gathering |sources| rows to one task is free, and
    avoids the second scan a separate .agg() branch would cost)."""
    from ocr_spark.functions import token_count

    doc = _t(spark, sf_dir, "documents")
    per = doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("n_tokens"),
    )
    z = F.sum(F.pow(F.col("n_tokens"), _MIX_ALPHA)).over(Window.partitionBy())
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.pow(F.col("n_tokens"), _MIX_ALPHA) / z, 6).alias("mix_weight"),
    )


_WINNOW_MAX_DF = 100  # drop fingerprints shared by more than this many docs


def q_winnowing_candidates(spark, sf_dir):
    """MOSS-style overlap candidate pairs over winnowing fingerprints
    (Schleimer et al., SIGMOD 2003 §5): self-equi-join documents on
    shared selected hashes, score each pair by containment
    n_shared / min(|fp_a|, |fp_b|) — the local-fingerprinting analog of
    ngram_jaccard_pairs, with the winnowing guarantee that any shared
    token run of length >= w + k - 1 surfaces at least one shared hash.

    Distributed shape: same discipline as the shingle path — the
    fingerprint stream shuffles once; a document-frequency cap drops
    boilerplate fingerprints (df > _WINNOW_MAX_DF, broadcast anti-join)
    BEFORE the self-join so a hash shared by k docs can't emit k^2
    candidate rows; top-20 compiles to TakeOrderedAndProject, never a
    global sort."""
    fps = q_winnowing_fingerprint(spark, sf_dir)
    hot = (
        fps.groupBy("fingerprint")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > _WINNOW_MAX_DF)
        .select("fingerprint")
    )
    fps = fps.join(F.broadcast(hot), "fingerprint", "left_anti")
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("n_fp"))
    a = fps.alias("a")
    b = fps.alias("b")
    inter = (
        a.join(b, "fingerprint")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    joined = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_fp", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_fp", "nb"), "doc_b")
        .withColumn(
            "containment",
            F.round(F.col("n_shared") / F.least(F.col("na"), F.col("nb")), 6),
        )
    )
    return (
        joined.orderBy(
            F.col("containment").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
        )
        .limit(20)
        .select("doc_a", "doc_b", "n_shared", "containment")
    )


_VOCAB_TOP = 16  # head-vocabulary size (tiny corpus vocab; production: 32-64k)


def q_vocab_oov_rate(spark, sf_dir):
    """Tokenizer-vocabulary coverage: build the top-V corpus vocabulary
    by frequency, then score every document's out-of-vocabulary token
    rate — the standard pre-tokenizer-training health check (a corpus
    slice with high OOV against the planned vocab wastes sequence
    length on UNK/bytes fallback).

    Distributed shape: the vocabulary is a bounded top-V of the word
    histogram (partial-aggregated groupBy + TakeOrdered, deterministic
    freq-then-word tie-break) and BROADCASTS into the per-doc scoring
    join, so the corpus side shuffles only once, on doc_id. In
    production the vocab is trained once and persists; here it derives
    from the same corpus for a self-contained oracle."""
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(_VOCAB_TOP)
        .select("w", F.lit(1).alias("hit"))
    )
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            (F.count("*") - F.count("hit")).cast("bigint").alias("n_oov"),
            F.round((F.count("*") - F.count("hit")) / F.count("*"), 6).alias(
                "oov_rate"
            ),
        )
    )


_PREFIX_LEN = 10  # leading tokens forming the dedup key


def q_prefix_dedup(spark, sf_dir):
    """Prefix dedup: mark every document whose first 10 tokens match an
    earlier document's (boilerplate headers, mirrored intros — the
    CCNet 'leading duplicate' case that exact full-text dedup misses).
    Keeps the lowest doc_id per prefix group.

    Distributed shape: ONE shuffle — a window min over
    partitionBy(prefix); no join back to the corpus and no second pass
    (the group winner is computed where the group lives). At 100 TB the
    key would be sha2(prefix) to bound shuffle width; group sizes are
    naturally small once boilerplate is capped upstream."""
    doc = _t_spread(spark, sf_dir, "documents")
    pre = doc.select(
        "doc_id",
        F.expr(
            f"array_join(slice(split(trim(text), '\\\\s+'), 1, {_PREFIX_LEN}), ' ')"
        ).alias("prefix"),
    )
    w = Window.partitionBy("prefix")
    return pre.select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("kept"),
        F.count("*").over(w).cast("bigint").alias("group_size"),
    )


def q_iqr_length_outliers(spark, sf_dir):
    """Robust length-outlier gate: per-language interquartile fences
    (Tukey 1.5×IQR) over character length — the distribution-aware
    upgrade of a fixed min/max length filter, per-language because CJK
    chars carry ~2-3× the information of Latin chars.

    Distributed shape: ONE per-lang aggregation produces q1/q3 (a
    |langs|-row table) which BROADCASTS back onto the scan for flagging
    — the corpus shuffles once on lang for the percentile agg and never
    again. Exact interpolated percentiles here (oracle parity); the
    100 TB variant swaps in percentile_approx's t-digest, same plan
    shape, as in doclen_percentiles."""
    doc = _t_spread(spark, sf_dir, "documents")
    fences = (
        doc.groupBy("lang")
        .agg(
            F.expr("percentile(n_chars, 0.25)").alias("q1"),
            F.expr("percentile(n_chars, 0.75)").alias("q3"),
        )
        .select(
            "lang",
            (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
            (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
        )
    )
    return (
        doc.join(F.broadcast(fences), "lang")
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            ((F.col("n_chars") < F.col("lo")) | (F.col("n_chars") > F.col("hi"))).alias(
                "is_outlier"
            ),
        )
    )


def q_zipf_slope(spark, sf_dir):
    """Zipf's-law fit over the head vocabulary: log-log OLS slope of
    frequency vs rank for the top-1000 words (natural corpora fit
    slope ≈ -1; a corpus whose slope collapses toward 0 is
    machine-generated/templated — a cheap corpus-health statistic).

    Distributed shape: the word histogram partial-aggregates, the head
    is a bounded TakeOrdered (freq-then-word tie-break), and the OLS
    runs as covar_pop/var_pop over that ≤1000-row table on a single
    task — the corpus itself is touched exactly once."""
    doc = _t_spread(spark, sf_dir, "documents")
    counts = (
        doc.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(1000)
    )
    xy = counts.select(
        F.log(F.row_number().over(Window.orderBy(F.col("c").desc(), F.col("w").asc())).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    return xy.agg(
        F.round(F.expr("covar_pop(x, y) / var_pop(x)"), 6).alias("zipf_slope"),
        F.count("*").cast("bigint").alias("n_head_words"),
    )


def q_intra_doc_segment_dedup(spark, sf_dir):
    """Intra-document dedup (the CCNet within-doc pass that precedes
    corpus-level dedup): drop repeated 10-token segments WITHIN each
    document, keeping first occurrence in order, and rebuild the text.
    Catches templated pages that repeat their own boilerplate — invisible
    to cross-doc keep-first dedup, which sees each doc once.

    Distributed shape: pure narrow per-row array math on the scan —
    ZERO shuffles at any corpus size (Spark's array_distinct preserves
    first-occurrence order; the oracle mirrors with an index-stable
    list_filter since DuckDB's list_distinct does not preserve order)."""
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    segs = toks.select(
        "doc_id",
        F.expr(
            "transform(sequence(0, cast(ceil(size(toks) / 10.0) as int) - 1),"
            " i -> array_join(slice(toks, i * 10 + 1, 10), ' '))"
        ).alias("segs"),
    )
    return segs.select(
        "doc_id",
        F.size("segs").cast("bigint").alias("n_segments"),
        F.size(F.array_distinct("segs")).cast("bigint").alias("n_kept"),
        F.array_join(F.array_distinct("segs"), " ").alias("dedup_text"),
    )


def q_source_pair_overlap(spark, sf_dir):
    """Corpus-composition analysis: pairwise shingle-set Jaccard between
    SOURCES (crawls/dumps/feeds) — the provenance-level overlap matrix
    used to decide which acquisitions are redundant before paying for
    full document-level dedup between them.

    Distributed shape: the (source, shingle) stream is distinct-reduced
    first (per-shingle fan-out bounded by |sources|, so the self-join
    emits at most |sources|^2 rows per shingle REGARDLESS of how many
    documents share it — unlike doc-level pair generation, no DF cap is
    needed); output is exactly |sources| choose 2 rows."""
    sh = (
        _shingles_df(spark, sf_dir)
        .join(
            _t(spark, sf_dir, "documents").select("doc_id", "source"), "doc_id"
        )
        .select("source", "shingle")
        .distinct()
    )
    sizes = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    return (
        inter.join(sizes.withColumnRenamed("source", "src_a").withColumnRenamed("n_sh", "na"), "src_a")
        .join(sizes.withColumnRenamed("source", "src_b").withColumnRenamed("n_sh", "nb"), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )


def q_tpch_q10ish(spark, sf_dir):
    """TPC-H Q10 shape: top-20 customers by revenue lost to returned
    items in a quarter — the 4-table join (lineitem x orders x customer
    x nation) with selective date/flag predicates pushed to the scans,
    partial-aggregated revenue, and a TakeOrdered top-k (never a global
    sort). The 25-row nation dim broadcasts; AQE picks broadcast for
    customer when it fits."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nation = _t(spark, sf_dir, "nation")
    joined = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate") < F.lit("1996-04-01"))
        )
        .join(li.filter(F.col("l_returnflag") == "R"), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )
    return joined.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc()).limit(20)


def q_merge_upsert(spark, sf_dir):
    """Iceberg ``MERGE INTO`` analog (CDC upsert) — the table-maintenance
    operation that keeps a 10^12-turn corpus current: a change batch
    (revisions + brand-new docs, derived deterministically here: every
    doc_id%7==0 arrives revised, every doc_id%13==0 also lands as a new
    doc under doc_id+100000) full-outer-joins the base on the key and
    each row is classified insert / update / keep; the output IS the
    merged table plus its action audit column.

    Distributed shape: one key shuffle per side into a single join — the
    copy-on-write MERGE plan. At Iceberg scale the engine would prune
    untouched files first (join against the update keys' min/max) so
    only affected data files rewrite; the snapshot store in pipeline.py
    models the commit side of that. AQE picks broadcast when the change
    batch is small — the common CDC case."""
    doc = _t(spark, sf_dir, "documents").select("doc_id", "text")
    updates = (
        doc.filter(F.col("doc_id") % 7 == 0)
        .select("doc_id", F.concat(F.col("text"), F.lit(" [rev2]")).alias("text"))
        .unionByName(
            doc.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.concat(F.lit("new: "), F.col("text")).alias("text"),
            )
        )
    )
    b = doc.alias("b")
    u = updates.alias("u")
    return (
        b.join(u, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.when(F.col("u.text").isNull(), "keep")
            .when(F.col("b.text").isNull(), "insert")
            .otherwise("update")
            .alias("action"),
            F.coalesce(F.col("u.text"), F.col("b.text")).alias("text"),
        )
    )


def q_gopher_repetition_battery(spark, sf_dir):
    """The rest of Gopher's repetition gates (Rae et al. 2021, §A1.1;
    repetition_filter covers the top-bigram token fraction): per doc,
    the duplicate-segment fraction (segments = 10-token runs, the
    line/paragraph analog for this corpus), the duplicate-segment
    CHARACTER fraction (chars inside repeat occurrences / total chars),
    and the top-3-gram character fraction (chars covered by the most
    frequent word 3-gram).

    Distributed shape: segment stats are pure narrow array math on the
    scan; the 3-gram mode needs (doc_id, gram) counts — one
    partial-aggregated shuffle on a well-spread composite key, then a
    per-doc max(struct) reduction (deterministic count-then-gram
    tie-break, mirrored exactly in the oracle) joined back to the
    narrow side on doc_id."""
    doc = _t_spread(spark, sf_dir, "documents")
    base = doc.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.split(F.trim(F.col("text")), r"\s+").alias("toks"),
    )
    segs = base.select(
        "doc_id",
        "n_chars",
        F.expr(
            "transform(sequence(0, cast(ceil(size(toks) / 10.0) as int) - 1),"
            " i -> array_join(slice(toks, i * 10 + 1, 10), ' '))"
        ).alias("segs"),
        F.expr(
            "case when size(toks) >= 3 then transform(sequence(1, size(toks) - 2),"
            " i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),"
            " element_at(toks, i + 2))) else cast(array() as array<string>) end"
        ).alias("grams"),
    )
    narrow = segs.select(
        "doc_id",
        "n_chars",
        "grams",
        F.round(
            1 - F.size(F.array_distinct("segs")) / F.size("segs"), 6
        ).alias("dup_seg_frac"),
        # chars inside repeat occurrences: total seg chars minus each
        # distinct segment counted once (+1 separator per seg, as joined)
        F.round(
            F.expr(
                "(aggregate(segs, 0L, (a, s) -> a + length(s))"
                " - aggregate(array_distinct(segs), 0L, (a, s) -> a + length(s)))"
            )
            / F.greatest(F.col("n_chars"), F.lit(1)),
            6,
        ).alias("dup_seg_char_frac"),
    )
    counts = (
        narrow.select("doc_id", F.explode("grams").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max(F.struct("c", "g")).alias("top"))
        .select(
            "doc_id",
            F.col("top.c").cast("bigint").alias("top3_count"),
            F.col("top.g").alias("top3_gram"),
        )
    )
    return (
        narrow.drop("grams")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            "dup_seg_frac",
            "dup_seg_char_frac",
            F.coalesce("top3_count", F.lit(0)).alias("top3_count"),
            F.round(
                F.coalesce(F.col("top3_count"), F.lit(0))
                * F.length(F.coalesce("top3_gram", F.lit("")))
                / F.greatest(F.col("n_chars"), F.lit(1)),
                6,
            ).alias("top3_char_frac"),
        )
    )


def q_funnel_analysis(spark, sf_dir):
    """Ordered-sequence funnel per user: the greedy earliest
    view -> click -> purchase progression (each stage must strictly
    follow the previous completed stage in time) — the standard product
    funnel, and a stand-in for any ordered-pattern match over an event
    stream (session outcome labeling, tool-use success chains).

    Distributed shape: ONE shuffle — groupBy(user_id) collects each
    user's (ts, event_id, stage-code) structs, array_sort recovers time
    order after the shuffle, and a codegen'd fold computes the reached
    stage; state per user is one int, memory bounded by the longest
    user history (the same collect-then-sort pattern as the ordered
    rollup). The oracle folds the identical transition function via
    list_reduce with a prepended init."""
    ev = _t(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
        .otherwise(0)
    )
    agg = (
        ev.select(
            "user_id",
            F.struct(F.col("ts"), F.col("event_id"), code.alias("c")).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.collect_list("s").alias("ss"),
            F.count("*").cast("bigint").alias("n_events"),
        )
    )
    depth = F.expr(
        "aggregate(array_sort(ss), 0, (acc, x) ->"
        " case when acc = 0 and x.c = 1 then 1"
        " when acc = 1 and x.c = 2 then 2"
        " when acc = 2 and x.c = 3 then 3 else acc end)"
    ).cast("bigint")
    return agg.select(
        "user_id",
        "n_events",
        depth.alias("funnel_depth"),
        (depth == 3).alias("converted"),
    )


_CNG_SMOOTH = 4096  # add-one smoothing denominator constant


def q_char_ngram_lang_id(spark, sf_dir):
    """Character-n-gram language ID (the Cavnar-Trenkle / fastText-style
    upgrade of the stopword heuristic): train per-language char-bigram
    naive-Bayes profiles from the labeled corpus, score every document
    against every language, predict the argmax. Completes the lang-id
    family: heuristic (stopword density), script (codepoint class),
    statistical (this).

    Distributed shape: profiles are a bounded table (char-bigram vocab x
    |langs|) built by ONE partial-aggregated pass and BROADCAST twice
    (floor table + profile) into the scoring join; the corpus-sized
    (doc, bigram) stream shuffles once on its composite key, fans out
    only x|langs|, and reduces to one row per (doc, lang) then per doc.
    Argmax is a max(struct) with a round(4)-then-lang tie-break mirrored
    exactly in the oracle (unrounded doubles summed in different orders
    could flip a near-tie across engines)."""
    doc = _t_spread(spark, sf_dir, "documents")
    grams = doc.select(
        "doc_id",
        "lang",
        F.explode(
            # the length guard matters: Spark's sequence(1, 0) is DESCENDING
            F.expr(
                "case when length(text) >= 2 then"
                " transform(sequence(1, length(text) - 1), i -> substr(text, i, 2))"
                " else cast(array() as array<string>) end"
            )
        ).alias("b"),
    )
    dcounts = grams.groupBy("doc_id", "b").agg(F.count("*").alias("dc"))
    profile = grams.groupBy("lang", "b").agg(F.count("*").alias("lc"))
    wl = Window.partitionBy("lang")
    profile = profile.select(
        "lang",
        "b",
        F.log((F.col("lc") + 1) / (F.sum("lc").over(wl) + _CNG_SMOOTH)).alias("lp"),
        F.log(1.0 / (F.sum("lc").over(wl) + _CNG_SMOOTH)).alias("lp0"),
    )
    floors = profile.select("lang", "lp0").distinct()
    scored = (
        dcounts.crossJoin(F.broadcast(floors))
        .join(F.broadcast(profile.select("lang", "b", "lp")), ["lang", "b"], "left")
        .groupBy("doc_id", "lang")
        .agg(F.round(F.sum(F.col("dc") * F.coalesce("lp", "lp0")), 4).alias("score"))
    )
    best = scored.groupBy("doc_id").agg(F.max(F.struct("score", "lang")).alias("top"))
    return (
        best.select("doc_id", F.col("top.lang").alias("pred_lang"))
        .join(doc.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "pred_lang",
            F.col("lang").alias("true_lang"),
            (F.col("pred_lang") == F.col("lang")).alias("correct"),
        )
    )


def q_quality_rank_by_source(spark, sf_dir):
    """Rank-based quality normalization per source: percent_rank of the
    quality score WITHIN each source — the calibration step before
    cross-source mixture selection (absolute quality scores are not
    comparable across crawls; selecting a per-source top-X% is).

    Distributed shape: one window shuffle on source; the (quality,
    doc_id) ordering is fully deterministic so ranks are exact and
    reproducible. At scale with few giant sources the window would run
    over per-source bucketed output (operators/bucketing.py) to avoid
    one reducer per source; rank semantics are unchanged."""
    from ocr_spark.functions import quality_score

    doc = _t(spark, sf_dir, "documents")
    scored = doc.select("doc_id", "source", quality_score("text").alias("quality"))
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    return scored.select(
        "doc_id",
        "source",
        "quality",
        F.round(F.percent_rank().over(w), 6).alias("quality_pct_rank"),
    )


def q_curation_gate_funnel(spark, sf_dir):
    """Gate-funnel report over the standard curation chain (the ablation
    table every corpus paper publishes): per-gate pass counts and the
    joint survival count for exact-dedup-keep, language, quality, and
    length — computed in ONE pass so the gates are measured on the same
    snapshot of the corpus.

    Distributed shape: one window over the content hash (the dedup
    first-occurrence flag) then a single partial-aggregated global
    reduction of boolean counters — no joins, no per-gate rescans; at
    100 TB this is strictly cheaper than running the four gate queries
    separately."""
    from ocr_spark.functions import quality_score, token_count

    doc = _t(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2(F.col("text"), 256))
    flagged = doc.select(
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("g_dedup"),
        (F.col("lang") == "en").alias("g_lang"),
        (quality_score("text") >= 0.3).alias("g_quality"),
        (token_count("text") <= 200).alias("g_len"),
    )
    cnt = lambda c: F.expr(f"count_if({c})").cast("bigint")  # noqa: E731
    return flagged.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        cnt("g_dedup").alias("pass_dedup"),
        cnt("g_lang").alias("pass_lang"),
        cnt("g_quality").alias("pass_quality"),
        cnt("g_len").alias("pass_len"),
        cnt("g_dedup and g_lang and g_quality and g_len").alias("pass_all"),
    )


_BPE_TRAIN_STEPS = _params.BPE_TRAIN_STEPS  # shared with the oracle generator
_BPE_SEP = "\x1e"  # record-separator; never appears in the \S+ tokens


def q_bpe_train(spark, sf_dir, steps: int = None):
    """Distributed BPE tokenizer TRAINING (Sennrich et al. 2016) — the
    full iterative loop, not just the one-step statistic in
    bpe_top_merges: 6 rounds of count-adjacent-pairs -> pick the most
    frequent (count-then-pair tie-break) -> merge every non-overlapping
    occurrence corpus-wide. Output is the learned merge table.

    Distributed shape: after ONE corpus pass reduces to (distinct word,
    freq) — the working set real BPE trainers iterate on, vocab-sized,
    not corpus-sized — each round is a partial-aggregated pair count
    plus a narrow per-word merge. The merge applies BPE's greedy
    left-to-right non-overlapping rule via string replace over a
    delimiter-wrapped symbol encoding (<sep>sym<sep> per symbol, so a
    pair pattern can never straddle symbol boundaries and consecutive
    merges don't share delimiters); the oracle unrolls the identical 6
    rounds in SQL. The per-round best-pair collect is a 1-row driver
    scalar (iteration control, like dedup_clusters' convergence
    check)."""
    merges, v = _bpe_train_state(
        spark, sf_dir, steps if steps is not None else _BPE_TRAIN_STEPS
    )
    v.unpersist()
    return spark.createDataFrame(
        merges, "step int, left string, right string, merged string, pair_count bigint"
    ).select(
        F.col("step").cast("bigint").alias("step"),
        "left",
        "right",
        "merged",
        "pair_count",
    )


def _bpe_train_state(spark, sf_dir, steps: int = _BPE_TRAIN_STEPS):
    """Run the BPE training loop; returns (merge list, final cached
    vocab state (w, freq, s)) — q_bpe_train reports the merges,
    q_bpe_encode applies the final state back to the corpus. Caller
    unpersists the returned frame."""
    doc = _t(spark, sf_dir, "documents")
    words = (
        doc.select(F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    sep = _BPE_SEP
    # encode each word as <sep>c<sep><sep>c<sep>... (every symbol
    # individually wrapped)
    v = words.select(
        "w",
        "freq",
        F.expr(
            f"concat('{sep}', array_join(transform(sequence(1, length(w)),"
            f" i -> substr(w, i, 1)), '{sep}{sep}'), '{sep}')"
        ).alias("s"),
    ).cache()
    syms = f"split(btrim(s, '{sep}'), '{sep}{sep}')"
    pairs_expr = (
        f"case when size({syms}) > 1 then"
        f" transform(sequence(1, size({syms}) - 1),"
        f" i -> struct(element_at({syms}, i) as l, element_at({syms}, i + 1) as r))"
        f" else cast(array() as array<struct<l:string,r:string>>) end"
    )
    merges = []
    for step in range(steps):
        pairs = v.select("freq", F.explode(F.expr(pairs_expr)).alias("p"))
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("l").asc(), F.col("r").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        l, r, c = best[0]["l"], best[0]["r"], int(best[0]["c"])
        merges.append((step, l, r, l + r, c))
        pat = f"{sep}{l}{sep}{sep}{r}{sep}"
        rep = f"{sep}{l}{r}{sep}"
        # localCheckpoint TRUNCATES the plan lineage each round — without
        # it the cached plans nest (InMemoryRelation inside
        # InMemoryRelation, one level per merge) and the driver OOMs on
        # plan handling well before the data does (~20 rounds even at
        # sf0.001). Eager, so the parent's blocks are free immediately;
        # the vocab state is |distinct words|-sized, never corpus-sized.
        nxt = v.select(
            "w",
            "freq",
            F.replace(F.col("s"), F.lit(pat), F.lit(rep)).alias("s"),
        ).localCheckpoint()
        v.unpersist()
        v = nxt
    return merges, v


def q_bpe_encode(spark, sf_dir):
    """Apply the learned BPE merges back to the corpus (train -> encode
    round trip): per document, the token count after segmentation with
    the 6 trained merges — the statistic that prices a corpus in model
    tokens under the trained tokenizer (vs the whitespace count).

    Distributed shape: training's final vocab state already holds each
    distinct word's post-merge symbol count — vocab-sized, so it
    BROADCASTS into the corpus token stream; one corpus shuffle
    (doc_id) for the per-doc reduction. The oracle unrolls the same 6
    rounds and applies the same final state."""
    _, v = _bpe_train_state(spark, sf_dir)
    sep = _BPE_SEP
    word_syms = v.select(
        "w",
        F.expr(f"size(split(btrim(s, '{sep}'), '{sep}{sep}'))")
        .cast("bigint")
        .alias("n_syms"),
    )
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w")
    )
    out = (
        toks.join(F.broadcast(word_syms), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_syms").cast("bigint").alias("n_bpe_tokens"),
            F.round(F.sum("n_syms") / F.count("*"), 6).alias("syms_per_word"),
        )
    )
    # materialize before unpersisting the state the plan depends on
    out = out.localCheckpoint()
    v.unpersist()
    return out


def q_lang_id_confusion(spark, sf_dir):
    """Lang-ID gate evaluation: confusion matrix of the stopword-density
    heuristic against the corpus's labeled ``lang`` column, with
    per-label row fractions — the standard tune-the-cheap-classifier
    loop for web-corpus filtering (label a sample, cross-tab, read the
    per-language accept rate before committing the gate corpus-wide).

    Distributed shape: narrow per-row scoring on the scan, then ONE
    partial-aggregated groupBy over a |langs| x |guesses| cell space;
    per-label totals come from a window over the tiny aggregate (never
    a corpus rescan)."""
    from ocr_spark.functions import stopword_ratio

    doc = _t(spark, sf_dir, "documents")
    guess = F.when(stopword_ratio("text") >= 0.05, "en-like").otherwise("other")
    cells = (
        doc.select("lang", guess.alias("lang_guess"))
        .groupBy("lang", "lang_guess")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )
    tot = F.sum("n_docs").over(Window.partitionBy("lang"))
    return cells.select(
        "lang",
        "lang_guess",
        "n_docs",
        F.round(F.col("n_docs") / tot, 6).alias("frac_of_lang"),
    )


# ---------------------------------------------------------------------------
# transcript training-prep operators (documents recast as transcripts so the
# driver's DuckDB oracle can value-check them; the same code runs unchanged
# over the real transcripts table)
# ---------------------------------------------------------------------------

# DuckDB twin of the extraction classifier's HTML predicate (kept in lockstep
# with ocr_spark/oracle/extract.py); used only to build oracle SQL strings.
_HTML_TAG_SQL = (
    r"'<\s*(?:/|!doctype|html|body|p|div|h[1-6]|a|ul|ol|li|nav|header|footer"
    r"|table|td|th|tr|span|script|style|br|article|section|main|blockquote|pre)\b'"
)


def doc_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adapt the driver's documents table to the BASELINE input shape
    ``(conv_id, turn_idx, role, text, tool, ts)`` — one conversation per
    source, docs as turns in doc_id order. Used by every transcript-shaped
    query below so the driver can oracle-check them; production code runs
    the identical plan over the real transcripts table.

    The rename-to-conv_id happens BEFORE the row_number window so the
    window's Exchange is hashpartitioning(conv_id): every downstream
    conv-keyed window/groupBy then reuses this one shuffle instead of
    re-exchanging on the alias (pinned by
    tests/test_plans.py::test_adapter_partitioning_is_reused)."""
    doc = _t(spark, sf_dir, "documents")
    renamed = doc.select(
        F.col("source").alias("conv_id"), F.col("doc_id"), F.col("text")
    )
    w = Window.partitionBy("conv_id").orderBy("doc_id")
    return renamed.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


def _extracted_text_turns(spark, sf_dir):
    """REAL vectorized extract() over documents-as-transcripts, restricted
    to all-plain-text conversations (the SQL-expressible subset) with blank
    turns dropped — the shared prefix of the span-offset queries."""
    from ocr_spark.operators.extract import extract

    ext = extract(doc_transcripts(spark, sf_dir))
    keep = (
        ext.groupBy("conv_id")
        .agg(F.expr("bool_and(kind = 'text')").alias("all_text"))
        .filter("all_text")
        .select("conv_id")
    )
    return (
        ext.join(keep, "conv_id")
        .filter("extracted_text is not null and trim(extracted_text) != ''")
        .select("conv_id", "turn_idx", "extracted_text")
    )


def q_turn_span_offsets(spark, sf_dir):
    """Per-turn character-span offsets into the ordered conversation
    rollup — the north-star's "extracted main-text and character-span
    offsets per (conv_id, turn_idx)" deliverable, through the REAL
    mapInArrow extraction UDF.

    Invariant (pinned by tests/test_spark_parity.py):
    ``full_text[char_start:char_end] == extracted_text`` where full_text
    is the '\\n\\n'-joined rollup of the same turns (conv_text semantics:
    blank turns skipped, turn_idx order).

    Distributed shape: one window keyed by conv_id — per-conversation
    state only, no global sort, cost linear in turns/conv (bounded by the
    10^4-turn skew archetype); the DuckDB oracle re-derives the classifier
    + cleanup + running offset declaratively, so a hash match proves the
    UDF path end-to-end."""
    kept = _extracted_text_turns(spark, sf_dir)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(
        F.sum(F.length("extracted_text") + F.lit(2)).over(w), F.lit(0)
    ).cast("bigint")
    return kept.select(
        "conv_id",
        "turn_idx",
        start.alias("char_start"),
        (start + F.length("extracted_text")).cast("bigint").alias("char_end"),
    )


def q_loss_mask_summary(spark, sf_dir):
    """SFT loss-masking summary: alternate turn roles (even turn_idx =
    user / prompt, odd = assistant / completion), train only on assistant
    characters, and report per-conversation trainable fractions — the
    aggregate a data loader needs to budget per-conv loss weight.

    Distributed shape: narrow per-row arithmetic on the extract output,
    then ONE partial-aggregated groupBy(conv_id) — the mask never
    materializes per-token rows."""
    kept = _extracted_text_turns(spark, sf_dir)
    is_train = (F.col("turn_idx") % 2 == 1).cast("int")
    per_turn = kept.select(
        "conv_id",
        F.length("extracted_text").cast("bigint").alias("n_chars"),
        is_train.alias("train"),
    )
    return (
        per_turn.groupBy("conv_id")
        .agg(
            F.count("*").cast("bigint").alias("n_turns"),
            F.sum("train").cast("bigint").alias("n_trainable_turns"),
            F.sum(F.col("n_chars") * F.col("train")).cast("bigint").alias("trainable_chars"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .select(
            "conv_id",
            "n_turns",
            "n_trainable_turns",
            "trainable_chars",
            "total_chars",
            F.round(F.col("trainable_chars") / F.col("total_chars"), 6).alias(
                "trainable_frac"
            ),
        )
    )


def q_role_alternation_check(spark, sf_dir):
    """Transcript QA gate: flag conversations whose turns do not
    alternate roles (consecutive same-role turns — truncated tool loops,
    merged messages). Roles are derived content-keyed (md5(text) mod 3 →
    user/assistant/tool) so the check has violations to find on the
    adapter table; on the real transcripts table the ``role`` column is
    used directly.

    Distributed shape: one lag window per conv_id (per-conv state, no
    global sort) feeding one partial-aggregated groupBy."""
    t = doc_transcripts(spark, sf_dir)
    role = F.expr(
        "element_at(array('user', 'assistant', 'tool'),"
        " cast(cast(conv(substr(md5(text), 1, 8), 16, 10) as bigint) % 3 as int) + 1)"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    flagged = t.select("conv_id", "turn_idx", role.alias("r")).select(
        "conv_id",
        (F.col("r") == F.lag("r").over(w)).cast("int").alias("viol"),
    )
    return (
        flagged.groupBy("conv_id")
        .agg(
            F.count("*").cast("bigint").alias("n_turns"),
            F.coalesce(F.sum("viol"), F.lit(0)).cast("bigint").alias("n_violations"),
        )
        .withColumn("alternates_ok", F.col("n_violations") == 0)
    )


_TRUNC_TOKEN_BUDGET = 512


def q_conv_truncate_tail(spark, sf_dir):
    """Context-window tail truncation: per conversation, keep the maximal
    SUFFIX of turns whose total whitespace-token count fits the budget
    (512) — the standard "most recent context wins" SFT prep. Emits per
    conv the kept-turn window and token spend so the slice is replayable.

    Distributed shape: per-turn token counts are narrow arithmetic on the
    scan; ONE descending-window running sum per conv_id (per-conv state);
    ONE partial-aggregated groupBy. A turn that alone exceeds the budget
    is dropped like any other over-budget turn (no partial-turn slicing
    at this operator — that belongs to sequence_packing)."""
    t = doc_transcripts(spark, sf_dir)
    toks = t.select(
        "conv_id",
        "turn_idx",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("conv_id")
        .orderBy(F.col("turn_idx").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = toks.withColumn("rsum", F.sum("n_tok").over(w)).withColumn(
        "keep", (F.col("rsum") <= _TRUNC_TOKEN_BUDGET).cast("int")
    )
    return (
        marked.groupBy("conv_id")
        .agg(
            F.count("*").cast("bigint").alias("n_turns"),
            F.sum("keep").cast("bigint").alias("kept_turns"),
            F.coalesce(
                F.sum(F.when(F.col("keep") == 1, F.col("n_tok"))), F.lit(0)
            ).cast("bigint").alias("kept_tokens"),
            F.coalesce(
                F.min(F.when(F.col("keep") == 1, F.col("turn_idx"))), F.lit(-1)
            ).cast("int").alias("first_kept_turn"),
        )
    )


def q_incremental_dedup_new_docs(spark, sf_dir):
    """Incremental corpus ingestion dedup: given a frozen corpus (doc_id
    mod 10 < 8) and an incoming batch (the rest), count per source how
    many incoming docs are duplicates of the corpus vs genuinely new, and
    how many distinct new fingerprints land — the nightly-crawl-append
    shape every production corpus runs.

    Distributed shape: both sides project to (source, sha2-256) BEFORE
    the anti-join, so shuffle width is ~72 bytes/row no matter how large
    the documents are; the frozen side is distinct-reduced (partial agg)
    first. At 100 TB Spark's runtime bloom-filter join injection
    (spark.sql.optimizer.runtime.bloomFilter.enabled) additionally
    prefilters the incoming side before the shuffle; correctness never
    depends on it (exact anti-join semantics)."""
    doc = _t(spark, sf_dir, "documents")
    fp = F.sha2(F.col("text"), 256).alias("fp")
    frozen = (
        doc.filter(F.col("doc_id") % 10 < 8)
        .select(fp)
        .distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    # single incoming scan: mark each row via LEFT join, aggregate once
    # (a left_anti + separate per-source count would rescan the table)
    marked = (
        doc.filter(F.col("doc_id") % 10 >= 8)
        .select("source", fp)
        .join(frozen, "fp", "left")
    )
    new_fp = F.when(F.col("in_corpus").isNull(), F.col("fp"))
    return marked.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_incoming"),
        F.count(new_fp).cast("bigint").alias("n_new"),
        F.countDistinct(new_fp).cast("bigint").alias("n_new_unique"),
        F.count("in_corpus").cast("bigint").alias("n_dup_vs_corpus"),
    )


# content-keyed role derivation shared by the transcript QA / SFT-prep
# queries (md5(text) mod 3 -> user/assistant/tool); on a real transcripts
# table the stored ``role`` column replaces this expression verbatim
_ROLE_EXPR = (
    "element_at(array('user', 'assistant', 'tool'),"
    " cast(cast(conv(substr(md5(text), 1, 8), 16, 10) as bigint) % 3 as int) + 1)"
)


def q_chat_template_spans(spark, sf_dir):
    """SFT chat-template rendering offsets: each conversation renders as
    the turn_idx-ordered concat of ``<|role|>\\n{text}\\n`` units; emit per
    turn the [text_start, text_end) character span of the PAYLOAD inside
    that rendering plus the loss-mask flag (train on assistant turns
    only). This is what a data loader needs to convert the rendered
    string + tokenizer offset-mapping into a token-level loss mask
    without re-searching for turn boundaries.

    Invariant (pinned by tests/test_spark_parity.py):
    ``rendered[text_start:text_end] == text`` and the 5+len(role) chars
    before each span are exactly the ``<|role|>\\n`` header.

    Distributed shape: span arithmetic is a closed form over turn
    lengths — ONE running-sum window keyed by conv_id (per-conversation
    state, no global sort, no rendering materialized); the rendered
    string itself never shuffles."""
    t = doc_transcripts(spark, sf_dir)
    base = t.select(
        "conv_id",
        "turn_idx",
        F.expr(_ROLE_EXPR).alias("role"),
        F.length("text").alias("tlen"),
    )
    # unit = "<|" + role + "|>\n" (5+len(role)) + text + "\n"
    unit = F.length("role") + F.col("tlen") + F.lit(6)
    w = (
        Window.partitionBy("conv_id")
        .orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = (
        F.coalesce(F.sum(unit).over(w), F.lit(0)) + 5 + F.length("role")
    ).cast("bigint")
    return base.select(
        "conv_id",
        "turn_idx",
        "role",
        start.alias("text_start"),
        (start + F.col("tlen")).cast("bigint").alias("text_end"),
        (F.col("role") == "assistant").alias("trainable"),
    )


def q_conv_dedup_exact(spark, sf_dir):
    """Conversation-level exact dedup: fingerprint each conversation by
    the sha2-256 of its turn_idx-ordered '\\n\\n'-joined turn texts and
    reduce duplicates to one representative (lowest conv_id). Transcript
    corpora are full of re-run agent sessions and re-submitted chats that
    are byte-identical end-to-end; doc-level dedup misses them because
    each turn is 'different enough' in context.

    Distributed shape: shuffle #1 groups turns by conv_id (per-conv
    state bounded by conversation length — the same bound as the conv_text
    rollup); shuffle #2 groups the ~conv-cardinality fingerprint table.
    The full turn text shuffles exactly once; at 100 TB the fingerprint
    table is ~10^8 rows of 64-byte hashes — trivially aggregable."""
    t = doc_transcripts(spark, sf_dir)
    conv = t.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        F.sha2(
            F.concat_ws(
                "\n\n",
                F.expr(
                    "transform(array_sort(collect_list(struct(turn_idx, text))),"
                    " x -> x.text)"
                ),
            ),
            256,
        ).alias("conv_fp"),
    )
    return conv.groupBy("conv_fp").agg(
        F.count("*").cast("bigint").alias("n_convs"),
        F.min("conv_id").alias("keep_conv_id"),
        F.min("n_turns").cast("bigint").alias("n_turns"),
    )


def q_reward_pairs(spark, sf_dir):
    """Preference-pair construction for reward-model training: per
    source (≙ prompt group), pick the highest-quality doc as ``chosen``
    and the lowest as ``rejected`` (quality_score heuristic, doc_id
    tie-break), dropping degenerate groups where both ends coincide.

    Distributed shape: NO window, no sort — both extremes come out of a
    single partial-aggregated groupBy via lexicographic struct min/max
    (tie-break encoded as a negated doc_id field in the max), so the
    shuffle carries one pre-reduced row per (partition, source). A
    row_number formulation would sort every group twice."""
    from ocr_spark.functions import quality_score

    doc = _t(spark, sf_dir, "documents")
    scored = doc.select(
        "source", "doc_id", quality_score("text").alias("q")
    )
    agg = scored.groupBy("source").agg(
        F.max(F.struct(F.col("q"), (-F.col("doc_id")).alias("neg_id"))).alias("best"),
        F.min(F.struct(F.col("q"), F.col("doc_id"))).alias("worst"),
    )
    return (
        agg.select(
            "source",
            (-F.col("best.neg_id")).cast("bigint").alias("chosen_doc_id"),
            F.col("best.q").alias("chosen_quality"),
            F.col("worst.doc_id").cast("bigint").alias("rejected_doc_id"),
            F.col("worst.q").alias("rejected_quality"),
            F.round(F.col("best.q") - F.col("worst.q"), 6).alias("quality_gap"),
        )
        .filter(F.col("chosen_doc_id") != F.col("rejected_doc_id"))
    )


_KM_K = 8  # clusters
_KM_ITERS = _params.KMEANS_ITERS  # shared with the oracle generator


def q_kmeans_train(spark, sf_dir, iters: int = None):
    """Full iterative k-means TRAINING (Lloyd) over the embedding table —
    the loop that produces ivf_*'s centroids rather than assuming them:
    3 rounds of (per-cluster/dim mean -> nearest-centroid reassignment),
    reporting per-cluster size and inertia of the final model.

    Distributed shape (the MLlib shape): each round is ONE
    partial-aggregated groupBy((cluster, dim)) over the exploded vectors
    — the only shuffle, k*d rows out — then the k x d centroid matrix
    (512 doubles) collects to the driver and re-enters the plan as a
    LITERAL array-of-arrays, so reassignment is a narrow per-row
    expression (argmin over k fold-computed L2 distances): the vector
    table itself never shuffles, at any corpus size. The per-round
    collect is iteration control, same as bpe_train's best-pair scalar.
    Centroid means are snapped to 6 decimals each round in BOTH engines:
    cross-engine float-summation-order drift (~1e-15) dies at the snap
    instead of compounding across rounds and flipping boundary
    assignments. Ties (equidistant centroids) break to the lowest
    cluster id via array_position-of-min."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cur = emb.withColumn("cluster", (F.col("vec_id") % _KM_K).cast("int"))
    dists_expr = None
    for _ in range(iters if iters is not None else _KM_ITERS):
        cents = {
            r["cluster"]: r["centroid"]
            for r in cur.select(
                "cluster", F.posexplode(F.col("embedding")).alias("pos", "x")
            )
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("m"))
            .groupBy("cluster")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, m))), s -> s.m)"
                ).alias("centroid")
            )
            .collect()
        }
        lit = "array({})".format(
            ", ".join(
                "array({})".format(", ".join(f"{v!r}d" for v in cents[c]))
                for c in sorted(cents)
            )
        )
        dists_expr = (
            f"transform({lit}, c -> aggregate(zip_with(embedding, c,"
            " (x, cv) -> (cast(x as double) - cv) * (cast(x as double) - cv)),"
            " cast(0.0 as double), (a, v) -> a + v))"
        )
        cur = emb.withColumn(
            "cluster",
            F.expr(
                f"cast(array_position({dists_expr},"
                f" array_min({dists_expr})) - 1 as int)"
            ),
        )
    final = cur.withColumn("dist", F.expr(f"array_min({dists_expr})"))
    return final.groupBy("cluster").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.min("vec_id").cast("bigint").alias("min_vec_id"),
        F.round(F.sum("dist"), 4).alias("inertia"),
    )


def q_ccnet_lm_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    language, split documents into head/middle/tail terciles of the
    corpus-trained bigram-LM score — the partition CCNet uses to select
    head (most fluent) data for training mixtures.

    Distributed shape: the scale-correct CUTOFF-BROADCAST formulation,
    not a per-lang ntile (a global sort per language funnels whole
    languages through single tasks at 100 TB): per-lang tercile cutoffs
    come from ONE partial-aggregated groupBy(lang) (exact interpolated
    percentile here; swap percentile_approx's mergeable t-digest at
    100 TB — plan shape unchanged), the |langs|-row cutoff table
    broadcasts back onto the score stream, and bucket assignment is
    narrow per-row arithmetic. Boundary rule: score > q66 ⇒ head,
    > q33 ⇒ middle, else tail, on the ROUNDED (4-decimal) score both
    engines share, so assignment never hinges on sub-round float
    drift. Docs with <2 tokens have no bigram score and are out of
    scope, as in bigram_lm_score."""
    scored = q_bigram_lm_score(spark, sf_dir).select("doc_id", "avg_logprob")
    lang = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    sl = scored.join(lang, "doc_id")
    cuts = sl.groupBy("lang").agg(
        F.expr(f"percentile(avg_logprob, {1 / 3!r}D)").alias("q33"),
        F.expr(f"percentile(avg_logprob, {2 / 3!r}D)").alias("q66"),
    )
    bucketed = sl.join(F.broadcast(cuts), "lang").withColumn(
        "bucket",
        F.when(F.col("avg_logprob") > F.col("q66"), F.lit("head"))
        .when(F.col("avg_logprob") > F.col("q33"), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return bucketed.groupBy("lang", "bucket").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.avg("avg_logprob"), 6).alias("avg_score"),
        F.min("doc_id").cast("bigint").alias("min_doc_id"),
    )


_BM25_TERMS = ("spark", "table", "hash", "merge", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75


def q_bm25_topk(spark, sf_dir):
    """BM25 sparse retrieval (Robertson/Sparck-Jones, the Lucene
    scoring function): rank documents against a fixed query
    (``_BM25_TERMS``) with Lucene's idf = ln((N - df + 0.5)/(df + 0.5)
    + 1) and the k1/b saturation/length normalization — the retrieval
    half of retrieval-augmented training-data pipelines.

    Distributed shape: the posting-list formulation. The query-term
    filter lands directly on the exploded token stream (narrow, before
    any shuffle), so only tokens matching the |query|-sized term set
    survive to the (doc, term) tf aggregation — corpus tokens that
    miss the query never shuffle. Corpus stats (N, avgdl) are a 1-row
    aggregate cross-joined back (broadcast by size), per-term idf is a
    |query|-row broadcast, and the head is TakeOrderedAndProject, not
    a global sort. At 100 TB with a real query workload the same plan
    runs per query-batch with the term set as a broadcast table."""
    from ocr_spark.functions import tokens

    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select("doc_id", tokens("text").alias("toks"))
    stats = toks.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size("toks").cast("double")).alias("avgdl"),
    )
    tf = (
        toks.select(
            "doc_id",
            F.size("toks").cast("double").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .filter(F.col("term").isin(list(_BM25_TERMS)))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "term",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ).alias("idf"),
        )
    )
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (k1 + F.lit(1.0)))
            / (
                F.col("tf")
                + k1 * (F.lit(1.0) - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("contrib"), 6).alias("bm25"),
            F.count("*").cast("bigint").alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(20).select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "bm25", "n_terms_hit"
    )


_LOGREG_LR = 10.0
_LOGREG_ROUNDS = _params.LOGREG_ROUNDS  # shared with the oracle generator
_LOGREG_DIMS = 65  # 64 embedding dims + bias-as-feature


def q_logreg_train(spark, sf_dir, rounds: int | None = None):
    """Full iterative logistic-regression TRAINING (batch gradient
    descent) of a binary quality classifier over the embedding table
    (target: label parity) — the supervised twin of kmeans_train, i.e.
    the loop that produces hashed_ngram_classifier-style scorer weights
    instead of assuming them. Reports the trained model's confusion
    matrix over the training set.

    Distributed shape (the MLlib LogisticRegression shape): each GD
    round is ONE partial-aggregated groupBy(dim) over the posexploded
    feature stream — d+1 rows out, map-side combined — after a narrow
    per-row sigmoid whose weight vector enters the plan as a
    driver-collected LITERAL (65 doubles), so the vector table itself
    never shuffles at any corpus size. Bias is folded in as a constant
    1.0 feature so one aggregation serves the whole gradient. The
    per-round collect is iteration control, same as kmeans_train.
    Weight updates are computed AND snapped (round 6) inside the Spark
    aggregate — never in Python — so both engines apply the identical
    HALF_UP rounding and cross-engine float-summation drift (~1e-15)
    dies at the snap instead of compounding across rounds."""
    emb = _t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.concat(
            F.col("embedding").cast("array<double>"), F.array(F.lit(1.0))
        ).alias("xb"),
        (F.col("label") % 2).cast("double").alias("y"),
    )
    w = [0.0] * _LOGREG_DIMS
    p_expr = None
    for _ in range(rounds if rounds is not None else _LOGREG_ROUNDS):
        w_lit = "array({})".format(", ".join(f"{v!r}d" for v in w))
        z = (
            f"aggregate(zip_with(xb, {w_lit}, (x, wv) -> x * wv),"
            " cast(0.0 as double), (a, v) -> a + v)"
        )
        p_expr = f"(1.0d / (1.0d + exp(-({z}))))"
        new_w = (
            base.select(
                F.expr(p_expr).alias("p"),
                "y",
                F.posexplode("xb").alias("pos", "x"),
            )
            .groupBy("pos")
            .agg(
                F.round(
                    F.element_at(F.expr(w_lit), F.col("pos") + F.lit(1))
                    - F.lit(_LOGREG_LR)
                    * F.avg((F.col("p") - F.col("y")) * F.col("x")),
                    6,
                ).alias("w")
            )
            .collect()
        )
        w = [r["w"] for r in sorted(new_w, key=lambda r: r["pos"])]
    w_lit = "array({})".format(", ".join(f"{v!r}d" for v in w))
    z = (
        f"aggregate(zip_with(xb, {w_lit}, (x, wv) -> x * wv),"
        " cast(0.0 as double), (a, v) -> a + v)"
    )
    p_expr = f"(1.0d / (1.0d + exp(-({z}))))"
    scored = base.select(
        "vec_id", F.col("y").cast("int").alias("y_true"), F.expr(p_expr).alias("p")
    )
    return scored.withColumn("pred", F.col("p") >= F.lit(0.5)).groupBy(
        "y_true", "pred"
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.avg("p"), 6).alias("avg_p"),
        F.min("vec_id").cast("bigint").alias("min_vec_id"),
    )


def q_tool_call_stats(spark, sf_dir):
    """Agent-trace tool-call telemetry: parse the JSON tool payload of
    every tool turn and aggregate per tool name — call volume,
    conversation reach, success rate, arg-count and result-size means.
    This is the observability rollup an agent-transcript pipeline runs
    before deciding which tool traces to keep for training.

    The payload here is synthesized deterministically from the turn
    content (content-keyed md5 fields, same convention as _ROLE_EXPR)
    because the sandbox adapter's ``tool`` column is blank; on a real
    transcripts table the stored payload replaces the synthesis and the
    plan from the parse down is IDENTICAL. Distributed shape: the
    role filter and get_json_object parse are narrow row-local
    expressions (JVM-side, inside codegen — no UDF), so the only
    Exchange is the final per-tool-name aggregate, partial-aggregated
    to |tools| rows. The parse+rollup is transcript_prep.tool_call_stats
    — the production function a real transcripts table calls on its
    stored tool column."""
    from ocr_spark import transcript_prep

    t = doc_transcripts(spark, sf_dir).withColumn("role", F.expr(_ROLE_EXPR))
    h = "cast(conv(substr(md5(text), {}, {}), 16, 10) as bigint)"
    calls = t.filter(F.col("role") == "tool").withColumn(
        "tool",
        F.concat(
            F.lit('{"name":"tool_'),
            (F.expr(h.format(9, 4)) % 5).cast("string"),
            F.lit('","ok":'),
            F.when(F.expr(h.format(13, 2)) % 4 == 0, F.lit("false")).otherwise(
                F.lit("true")
            ),
            F.lit(',"n_args":'),
            (F.expr(h.format(15, 2)) % 4 + 1).cast("string"),
            F.lit("}"),
        ),
    )
    return transcript_prep.tool_call_stats(calls)


def q_conv_sessionize(spark, sf_dir):
    """Session segmentation of agent conversations: split each
    conversation into sessions wherever the inter-turn idle gap exceeds
    30 minutes (the agent-trace analog of web sessionization), emitting
    one row per (conversation, session) with its turn range. Long
    multi-day agent traces must be split this way before context
    assembly or they blow the training context window.

    The turn timestamps are synthesized content-keyed (running sum of
    1 + md5 % 45 minute gaps) because the sandbox adapter's ts is
    constant; session logic proper is transcript_prep.sessionize /
    session_stats — the production functions a real transcripts table
    calls on its stored ts. Distributed shape: ts -> gap -> break flag
    -> running session index -> per-session rollup is ONE conv-keyed
    window partition chain plus the final (conv, session) aggregate —
    per-conversation state only, no global sort, every window reusing
    the adapter's hashpartitioning(conv_id) Exchange."""
    from ocr_spark import transcript_prep

    t = doc_transcripts(spark, sf_dir)
    gap_s = (
        F.expr("cast(conv(substr(md5(text), 17, 2), 16, 10) as bigint)") % 45
        + 1
    ) * 60
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    with_ts = t.withColumn(
        "ts",
        F.timestamp_seconds(
            F.sum(gap_s).over(w.rowsBetween(Window.unboundedPreceding, 0))
        ),
    )
    return transcript_prep.session_stats(with_ts, max_gap_s=1800)


def q_sft_pairs(spark, sf_dir):
    """SFT (prompt, response) pair extraction: every assistant turn
    paired with the NEAREST PRECEDING user turn in its conversation —
    not simply the previous row, because agent traces interleave tool
    turns between the user's ask and the assistant's answer. This is
    the pair-mining pass that turns raw transcripts into supervised
    fine-tuning examples.

    Distributed shape: one conditional last_value(ignore nulls) window
    over the conv-keyed partitioning (reusing the adapter's Exchange),
    then a narrow filter to assistant turns — no join, no global sort;
    pair identity ships as an md5 fingerprint so downstream pair-level
    dedup never shuttles full texts. Pair mining proper is
    transcript_prep.sft_pairs — the production function a real
    transcripts table calls on its stored role column."""
    from ocr_spark import transcript_prep

    t = doc_transcripts(spark, sf_dir).withColumn("role", F.expr(_ROLE_EXPR))
    pairs = transcript_prep.sft_pairs(t)
    return pairs.select(
        "conv_id",
        "turn_idx",
        F.col("prompt_text").isNotNull().alias("has_prompt"),
        F.coalesce(F.length("prompt_text"), F.lit(0))
        .cast("bigint")
        .alias("prompt_chars"),
        F.length("response_text").cast("bigint").alias("response_chars"),
        "pair_fp",
    )


def q_context_assembly(spark, sf_dir):
    """Bounded-context assembly: for every turn, gather the previous
    up-to-3 turns as its replay context (the eval-harness / RL-replay
    view of a transcript) and emit the context's size plus an md5
    fingerprint of the '\\n\\n'-joined window so the assembled string is
    value-checked without shipping it.

    Distributed shape: ONE bounded-frame window (ROWS BETWEEN 3
    PRECEDING AND 1 PRECEDING) over the conv-keyed partitioning — state
    per conversation is 3 turns regardless of conversation length, so
    the operator survives million-turn agent traces where an unbounded
    collect would not. Assembly proper is
    transcript_prep.assemble_context — the production function."""
    from ocr_spark import transcript_prep

    t = doc_transcripts(spark, sf_dir)
    ctx = transcript_prep.assemble_context(t, k=3)
    return ctx.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.size("context").cast("int").alias("n_context"),
        F.aggregate(
            "context", F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
        ).alias("context_chars"),
        "context_fp",
    )


_PR_DAMPING = 0.85
_PR_ROUNDS = _params.PAGERANK_ROUNDS  # shared with the oracle generator


def q_pagerank(spark, sf_dir, rounds: int | None = None):
    """Full iterative PageRank (3 unrolled power-iteration rounds,
    damping 0.85) over a deterministic content-keyed link graph (each
    document emits 2 out-links, targets md5-derived) — the link-analysis
    half of web-corpus curation: rank-weighted sampling and seed-list
    selection both key on it.

    Distributed shape (the GraphX/Pregel shape expressed relationally):
    each round is edges ⋈ ranks on src (both sides hash-partitioned on
    the join key; at 100 TB the edge table is pre-partitioned ONCE by
    src and every round reuses that layout) followed by ONE
    partial-aggregated groupBy(dst) and a left join back onto the
    vertex set for dangling/no-inlink vertices. Ranks stay a
    DataFrame — never driver-collected — so the loop scales to any
    vertex count; only the round COUNT is driver-side (fixed
    iterations, like kmeans_train). Per-round ranks are snapped to 10
    decimals in BOTH engines so cross-engine float-summation-order
    drift dies at each snap; the damping base uses the literal 0.15
    (not 1 - 0.85, which differs in the last ulp) for bit-identical
    arithmetic."""
    ranks, _ = _pagerank_ranks(spark, sf_dir, rounds=rounds)
    return (
        ranks.orderBy(F.desc("rank"), F.asc("doc_id"))
        .limit(20)
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.round("rank", 6).alias("pr"),
        )
    )


def _content_link_edges(doc, n, extra=()):
    """The deterministic content-keyed 2-out-link graph shared by
    q_pagerank and q_anchor_text_aggregation (single definition so the
    graph and both oracles can never desynchronize): each document emits
    two md5-derived targets (digest offsets 1 and 9) modulo the vertex
    count. ``extra`` carries additional per-source columns (e.g. the
    anchor term) onto each edge."""
    link = "cast(conv(substr(md5(text), {}, 8), 16, 10) as bigint)"

    def side(off):
        return doc.select(
            F.col("doc_id").alias("src"),
            *extra,
            (F.expr(link.format(off)) % n).alias("dst"),
        )

    return side(1).unionByName(side(9))


def _pagerank_ranks(spark, sf_dir, rounds: int | None = None):
    """The shared rank loop behind q_pagerank / q_rank_weighted_sample:
    returns (ranks, n_docs) — the full (doc_id, rank) DataFrame after
    _PR_ROUNDS damped power iterations with the 10-decimal per-round
    snap, plus the vertex count so callers don't re-scan for it."""
    doc = _t(spark, sf_dir, "documents")
    n = doc.count()
    edges = _content_link_edges(doc, n)
    ranks = doc.select("doc_id", (F.lit(1.0) / F.lit(float(n))).alias("rank"))
    for _ in range(rounds if rounds is not None else _PR_ROUNDS):
        contribs = (
            edges.join(ranks, edges.src == ranks.doc_id)
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.lit(2.0)).alias("contrib"))
        )
        ranks = (
            doc.select("doc_id")
            .join(contribs, F.col("doc_id") == contribs.dst, "left")
            .select(
                "doc_id",
                F.round(
                    F.lit(0.15) / F.lit(float(n))
                    + F.lit(_PR_DAMPING) * F.coalesce("contrib", F.lit(0.0)),
                    10,
                ).alias("rank"),
            )
        )
    return ranks, n


def q_skew_report(spark, sf_dir):
    """Key-skew diagnosis for the conversation-keyed shuffle — the
    pre-flight report that decides whether a run needs salting (the
    north rule's 'long agent traces' problem made measurable): per-key
    turn/char loads reduced to max, mean, p99, and the max/mean skew
    factor. At 100 TB this runs on a sample or on the previous run's
    lineage metrics; the plan is two partial-aggregated aggregations
    (per-key, then 1-row corpus summary) — no sort, no window."""
    t = doc_transcripts(spark, sf_dir)
    per_key = t.groupBy("conv_id").agg(
        F.count("*").cast("double").alias("n_turns"),
        F.sum(F.length("text")).cast("double").alias("n_chars"),
    )
    return per_key.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("n_turns").cast("bigint").alias("max_turns"),
        F.round(F.avg("n_turns"), 6).alias("avg_turns"),
        F.round(F.expr("percentile(n_turns, 0.99D)"), 6).alias("p99_turns"),
        F.round(F.max("n_turns") / F.avg("n_turns"), 6).alias("turn_skew_factor"),
        F.max("n_chars").cast("bigint").alias("max_chars"),
        F.round(F.max("n_chars") / F.avg("n_chars"), 6).alias("char_skew_factor"),
    )


def q_rank_weighted_sample(spark, sf_dir):
    """Rank-weighted corpus sampling: keep each document with
    probability proportional to its PageRank (seed-quality-weighted
    selection, the link-analysis half of curation put to work).
    Deterministic: the per-doc uniform draw is a content-keyed md5
    unit, so the sample is reproducible across runs and engines —
    keep iff unit < rank * N * 0.2 (expected keep rate 20% under a
    uniform rank vector, upweighted for high-rank docs).

    Distributed shape: the pagerank rounds (see q_pagerank) plus one
    narrow per-row threshold — no new shuffle beyond the rank loop."""
    ranks, n = _pagerank_ranks(spark, sf_dir)
    doc = _t(spark, sf_dir, "documents")
    unit = (
        F.expr("cast(conv(substr(md5(text), 25, 8), 16, 10) as bigint)")
        / F.lit(4294967296.0)
    )
    joined = doc.select("doc_id", "text").join(ranks, "doc_id")
    kept = joined.filter(
        unit < F.col("rank") * F.lit(float(n)) * F.lit(0.2)
    )
    return kept.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.round("rank", 6).alias("pr"),
    )


def q_dedup_weights(spark, sf_dir):
    """Soft-dedup training weights: every document weighted 1/k where k
    is its near-dup cluster size (docs outside any cluster keep weight
    1.0) — the dedup-aware sampling alternative to hard-dropping
    duplicates, so each duplicated content unit contributes one
    document's worth of gradient in expectation.

    Distributed shape: the label-propagation cluster loop (see
    q_dedup_clusters) + ONE partial-aggregated cluster-size groupBy,
    then two left equi-joins back onto the corpus id stream — the
    cluster/size tables are pair-graph-sized (tiny next to the corpus),
    so at 100 TB both joins broadcast."""
    clusters = q_dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("k")
    )
    doc = _t(spark, sf_dir, "documents").select("doc_id")
    joined = (
        doc.join(clusters, "doc_id", "left")
        .join(sizes, "cluster_id", "left")
    )
    return joined.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.coalesce("k", F.lit(1)).cast("bigint").alias("cluster_size"),
        F.round(F.lit(1.0) / F.coalesce("k", F.lit(1)), 6).alias("weight"),
    )


_DRIFT_V = 400


def q_vocab_drift_kl(spark, sf_dir):
    """Corpus drift monitor: add-one-smoothed KL divergence between the
    word distributions of two corpus snapshots (content-keyed halves of
    the source space here; old vs new ingest batch in production),
    reporting the top-20 drift-driving tokens plus the total KL — the
    check a continuously-ingesting pipeline runs before letting a new
    crawl into the training mixture.

    Distributed shape: ONE token-count aggregate serves both halves
    (conditional sums — never two corpus scans), the vocabulary is
    bounded to the top-V head by TakeOrdered (V rows broadcast-sized
    from then on), totals cross-join back as a 1-row broadcast, and the
    head is TakeOrdered. Per-token contributions snap to 8 decimals
    before the total sums them, so cross-engine sum-order drift cannot
    reach the 6-decimal KL."""
    from ocr_spark.functions import tokens

    doc = _t_spread(spark, sf_dir, "documents")
    is_old = (
        F.expr("cast(conv(substr(md5(source), 1, 8), 16, 10) as bigint)") % 2
        == 0
    )
    toks = doc.select(
        is_old.alias("is_old"),
        F.explode(tokens("text")).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.sum(F.when(F.col("is_old"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_old"),
        F.sum(F.when(~F.col("is_old"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_new"),
    )
    vocab = counts.orderBy(
        F.desc(F.col("c_old") + F.col("c_new")), F.asc("token")
    ).limit(_DRIFT_V)
    totals = vocab.agg(
        F.sum("c_old").cast("double").alias("n_old"),
        F.sum("c_new").cast("double").alias("n_new"),
        F.count("*").cast("double").alias("v"),
    )
    pn = (F.col("c_new") + F.lit(1)) / (F.col("n_new") + F.col("v"))
    po = (F.col("c_old") + F.lit(1)) / (F.col("n_old") + F.col("v"))
    scored = vocab.crossJoin(F.broadcast(totals)).select(
        "token",
        "c_old",
        "c_new",
        F.round(pn * F.log(pn / po), 8).alias("contrib"),
    )
    kl = scored.agg(F.round(F.sum("contrib"), 6).alias("kl_total"))
    return (
        scored.crossJoin(F.broadcast(kl))
        .orderBy(F.desc("contrib"), F.asc("token"))
        .limit(20)
    )


def q_embedding_quantize_error(spark, sf_dir):
    """Scalar (int8) quantization of the embedding table with
    per-dimension reconstruction error — the compression step a
    billion-vector ANN index applies before sharding (4x memory cut vs
    float32; IVF/LSH shapes unchanged): per-dim min/max ranges, uniform
    255-step codes, dequantized absolute error.

    Distributed shape: ONE posexplode + partial-aggregated groupBy(dim)
    computes the 64-row range table; it broadcasts back onto the same
    exploded stream for the narrow quantize/dequantize arithmetic, and
    the per-dim error rollup is the second (64-row) aggregate. Vectors
    never shuffle — only (dim, stat) rows do. Constant dimensions
    (max == min) code to 0 with zero error rather than dividing by the
    empty range."""
    emb = _t(spark, sf_dir, "embeddings")
    xs = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    )
    ranges = xs.groupBy("pos").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    q = xs.join(F.broadcast(ranges), "pos")
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.round((F.col("x") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255, 0),
    ).otherwise(F.lit(0.0))
    deq = F.col("mn") + code * (F.col("mx") - F.col("mn")) / F.lit(255.0)
    return (
        q.select("pos", "mn", "mx", F.abs(F.col("x") - deq).alias("err"))
        .groupBy("pos")
        .agg(
            F.round(F.min("mn"), 6).alias("dim_min"),
            F.round(F.max("mx"), 6).alias("dim_max"),
            F.round(F.avg("err"), 8).alias("avg_abs_err"),
            F.round(F.max("err"), 8).alias("max_abs_err"),
        )
    )


_PMI_MIN_COUNT = 5


def q_pmi_collocations(spark, sf_dir):
    """PMI collocation mining (word2phrase / Mikolov et al.'s phrase
    detection statistic): top-20 adjacent word pairs by pointwise mutual
    information ln(p(ab) / (p(a) p(b))) with a min-count gate — the pass
    that decides which token pairs merge into phrases before vocabulary
    construction.

    Distributed shape: one scan feeds words and bigrams; corpus totals
    are 1-row aggregates cross-joined back (broadcast), the min-count
    gate cuts the pair table BEFORE its two unigram-count equi-joins
    (so the joins see only candidate phrases, not the full bigram
    stream), and the head is TakeOrdered. No scalar collect()s — totals
    stay in-plan."""
    from ocr_spark.functions import tokens

    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select(tokens("text").alias("toks"))
    words = toks.select(F.explode("toks").alias("w"))
    grams = toks.select(
        F.explode(
            F.expr(
                "case when size(toks) >= 2 then transform(sequence(1, size(toks) - 1),"
                " i -> struct(element_at(toks, i) as w1, element_at(toks, i + 1) as w2))"
                " else cast(array() as array<struct<w1:string,w2:string>>) end"
            )
        ).alias("g")
    ).select("g.w1", "g.w2")
    n1 = words.agg(F.count("*").cast("double").alias("n1"))
    n2 = grams.agg(F.count("*").cast("double").alias("n2"))
    c1 = words.groupBy("w").agg(F.count("*").cast("double").alias("c"))
    pairs = (
        grams.groupBy("w1", "w2")
        .agg(F.count("*").cast("double").alias("c12"))
        .filter(F.col("c12") >= _PMI_MIN_COUNT)
    )
    joined = (
        pairs.join(c1.select(F.col("w").alias("w1"), F.col("c").alias("ca")), "w1")
        .join(c1.select(F.col("w").alias("w2"), F.col("c").alias("cb")), "w2")
        .crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(n2))
    )
    scored = joined.select(
        "w1",
        "w2",
        F.col("c12").cast("bigint").alias("n_pair"),
        F.round(
            F.log(
                (F.col("c12") / F.col("n2"))
                / ((F.col("ca") / F.col("n1")) * (F.col("cb") / F.col("n1")))
            ),
            6,
        ).alias("pmi"),
    )
    return scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(20)


def q_tool_cooccurrence(spark, sf_dir):
    """Tool co-use analysis over agent traces (the market-basket first
    pass): for every pair of tools used within the same conversation,
    the co-occurrence count and lift P(ab)/(P(a)P(b)) — what an
    agent-capability curriculum uses to pick which tool combinations
    need joint training coverage.

    Distributed shape: the (conv, tool) stream is DISTINCT-reduced
    first, so per-conversation fan-out in the pair self-join is bounded
    at |tools| (5 here, dozens in production — never the turn count);
    per-tool conversation counts and the conversation total ride back
    as broadcasts (|tools| rows and 1 row). Pair identity is ordered
    (a < b) so each pair is emitted exactly once — no dedup shuffle."""
    t = doc_transcripts(spark, sf_dir).withColumn("role", F.expr(_ROLE_EXPR))
    h = "cast(conv(substr(md5(text), 9, 4), 16, 10) as bigint)"
    used = (
        t.filter(F.col("role") == "tool")
        .select(
            "conv_id",
            F.concat(F.lit("tool_"), (F.expr(h) % 5).cast("string")).alias("tool"),
        )
        .distinct()
    )
    n_convs = t.select("conv_id").distinct().agg(
        F.count("*").cast("double").alias("n_convs")
    )
    singles = used.groupBy("tool").agg(
        F.count("*").cast("double").alias("c")
    )
    a = used.select("conv_id", F.col("tool").alias("tool_a"))
    b = used.select("conv_id", F.col("tool").alias("tool_b"))
    pairs = (
        a.join(b, "conv_id")
        .filter(F.col("tool_a") < F.col("tool_b"))
        .groupBy("tool_a", "tool_b")
        .agg(F.count("*").cast("double").alias("c_ab"))
    )
    joined = (
        pairs.join(
            F.broadcast(singles.select(F.col("tool").alias("tool_a"), F.col("c").alias("c_a"))),
            "tool_a",
        )
        .join(
            F.broadcast(singles.select(F.col("tool").alias("tool_b"), F.col("c").alias("c_b"))),
            "tool_b",
        )
        .crossJoin(F.broadcast(n_convs))
    )
    return joined.select(
        "tool_a",
        "tool_b",
        F.col("c_ab").cast("bigint").alias("n_co"),
        F.round(
            (F.col("c_ab") / F.col("n_convs"))
            / ((F.col("c_a") / F.col("n_convs")) * (F.col("c_b") / F.col("n_convs"))),
            6,
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# round 3 (cont.): edit-distance verify / bloom decontam / count-min sketch
# ---------------------------------------------------------------------------

def q_levenshtein_near_dup(spark, sf_dir):
    """Edit-distance-verified near-dup pairs: block, band, then verify.

    The third verifier in the near-dup family (exact Jaccard:
    `minhash_lsh_pairs`; hamming: `simhash_near_dup`): candidates must
    share their first-3-token prefix block AND sit within a +-64-char
    length band (|len_a - len_b| is a lower bound on edit distance, so
    the band is a free pre-verify reject), then the survivors pay the
    O(len^2) `levenshtein` builtin — JVM codegen on both engines.

    100 TB shape: blocks with document frequency > 64 are dropped before
    the self-join (the same boilerplate-prefix k^2 guard as the shingle
    DF cap in `ngram_jaccard_pairs`); the quadratic term is bounded by
    (capped block size)^2, never corpus^2, and the expensive verify runs
    only on banded candidates. Blocking on a prefix is a recall POLICY
    (edits inside the first 3 tokens escape this block) — production
    stacks it with the MinHash/SimHash candidate sets, which have no
    positional blind spot.
    """
    doc = _t(spark, sf_dir, "documents").select(
        "doc_id", F.trim(F.col("text")).alias("t")
    )
    keyed = doc.select(
        "doc_id",
        "t",
        F.array_join(F.slice(F.split(F.col("t"), r"\s+"), 1, 3), " ").alias("blk"),
        F.length("t").alias("len"),
    )
    blk_df = keyed.groupBy("blk").agg(F.count("*").alias("blk_df"))
    capped = keyed.join(blk_df.filter(F.col("blk_df") <= 64).select("blk"), "blk")
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(b, "blk")
        .filter(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= 64)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.t"), F.col("b.t")).cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 64)
    )


_BLOOM_BITS = 1 << 18  # Bloom filter width m (bits)
_BLOOM_K = 4  # hash functions k


def q_bloom_decontam(spark, sf_dir):
    """Bloom-filter benchmark decontamination: the probabilistic twin of
    `benchmark_decontam`. The eval set is summarized as the SET BITS of
    a Bloom filter (k=4 md5-derived positions in m=2^18 bits); a
    training gram is "maybe contaminated" iff all k of its positions are
    set. No false negatives (every exact hit is flagged), bounded false
    positives (~(1-e^{-kn/m})^k) — the superset property vs the exact
    join is pinned in tests/test_hygiene_edge.py.

    100 TB shape: where `benchmark_decontam` broadcasts the eval grams
    themselves, this broadcasts a CONSTANT-SIZE summary — at most m
    distinct bit positions regardless of eval-set size — so the
    broadcast never grows past ~2 MB even if the blocklist corpus has
    billions of grams; the training side still joins map-side with no
    shuffle. This is the standard shape for fleet-wide URL / document
    blocklists where the exact set outgrows the broadcast limit.
    """
    grams = _shingles_df(spark, sf_dir).withColumnRenamed("shingle", "g")

    def pos(j):
        return F.expr(
            f"cast(conv(substr(md5(concat('{j}:', g)), 1, 5), 16, 10) as bigint)"
            f" % {_BLOOM_BITS}"
        )

    ev_bits = (
        grams.filter(F.col("doc_id") % _DECON_EVAL_MOD == 0)
        .select("g")
        .distinct()
        .select(F.explode(F.array(*[pos(j) for j in range(_BLOOM_K)])).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    probes = (
        grams.filter(F.col("doc_id") % _DECON_EVAL_MOD != 0)
        .select(
            "doc_id",
            "g",
            F.explode(F.array(*[pos(j) for j in range(_BLOOM_K)])).alias("pos"),
        )
    )
    per_gram = (
        probes.join(F.broadcast(ev_bits), "pos", "left")
        .groupBy("doc_id", "g")
        .agg(F.count("hit").alias("hits"))
    )
    flagged = (F.col("hits") == _BLOOM_K).cast("int")
    return per_gram.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_grams"),
        F.sum(flagged).cast("bigint").alias("n_maybe"),
        (F.sum(flagged) > 0).alias("bloom_contaminated"),
    )


_CM_DEPTH = 4  # Count-Min rows (hash functions)
_CM_WIDTH = 256  # Count-Min columns per row


def q_countmin_freq(spark, sf_dir):
    """Count-Min sketch frequency estimates for the top-20 word bigrams.

    The sketch is d=4 rows x w=256 counters; item bigram g increments
    counter (j, md5('j:'||g) % w) in every row, and its estimate is the
    MIN over rows — always >= the true count (one-sided error,
    Cormode-Muthukrishnan 2005), pinned for the whole vocabulary in
    tests/test_hygiene_edge.py. Emits (token, true_count, cm_est) for
    the exact top-20 so the driver hash also witnesses the estimates.

    100 TB shape: the corpus stream partial-aggregates to the
    vocab-bounded exact table FIRST (map-side combine); the d*w sketch is
    then built from vocab — the shuffle carries |vocab| rows, never the
    corpus, and the finished sketch is d*w = 1024 counters total: a
    constant-size mergeable summary (sketches of shards add
    counter-wise), which is why production frequency monitoring ships
    sketches, not vocab tables, across the fleet.
    """
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select(F.split(F.trim(F.col("text")), r"\s+").alias("t"))
    grams = toks.select(
        F.explode(
            F.expr(
                "case when size(t) >= 2 then transform(sequence(1, size(t) - 1),"
                " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))"
                " else cast(array() as array<string>) end"
            )
        ).alias("g")
    )
    vocab = grams.groupBy("g").agg(F.count("*").cast("bigint").alias("c"))

    def jp(col="g"):
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        F.expr(
                            f"cast(conv(substr(md5(concat('{j}:', {col})), 1, 4), 16, 10)"
                            f" as bigint) % {_CM_WIDTH}"
                        ).alias("pos"),
                    )
                    for j in range(_CM_DEPTH)
                ]
            )
        )

    sketch = (
        vocab.select("c", jp().alias("x"))
        .select("c", "x.j", "x.pos")
        .groupBy("j", "pos")
        .agg(F.sum("c").cast("bigint").alias("counter"))
    )
    top = vocab.orderBy(F.col("c").desc(), F.col("g").asc()).limit(20)
    probes = top.select("g", "c", jp().alias("x")).select("g", "c", "x.j", "x.pos")
    return (
        F.broadcast(probes)
        .join(sketch, ["j", "pos"])
        .groupBy("g", "c")
        .agg(F.min("counter").cast("bigint").alias("cm_est"))
        .select(
            F.col("g").alias("token"),
            F.col("c").alias("true_count"),
            "cm_est",
        )
    )


def q_ngram_diversity(spark, sf_dir):
    """Per-source 3-gram diversity (distinct grams / total grams): the
    corpus-level repetitiveness monitor (the cross-document complement of
    the per-doc `repetition_filter`; low diversity flags template farms
    and boilerplate-heavy sources before they reach training).

    Distributed shape: count(distinct) over a group key compiles to
    Catalyst's standard two-phase expand+partial-agg — per-source totals
    and distinct counts partial-aggregate map-side; nothing touches the
    driver. Sources needing cheaper distincts at extreme cardinality use
    `approx_distinct_grams` (HLL) instead.
    """
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select(
        "source", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    grams = toks.select(
        "source",
        F.explode(
            F.expr(
                "case when size(t) >= 3 then transform(sequence(1, size(t) - 2),"
                " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),"
                " element_at(t, i + 2))) else cast(array() as array<string>) end"
            )
        ).alias("g"),
    )
    return grams.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_grams"),
        F.count_distinct("g").cast("bigint").alias("n_distinct"),
        F.round(F.count_distinct("g") / F.count("*"), 6).alias("diversity"),
    )


def q_approx_distinct_grams(spark, sf_dir):
    """Rows-only: HLL++ approximate distinct 3-gram counts per source
    (`approx_count_distinct`, rsd=0.05) alongside the exact count.

    No DuckDB oracle: DuckDB's approx_count_distinct is a different
    sketch with different estimates, so the driver records a rows-only
    check; the bounded-relative-error contract vs the exact count is
    pinned in tests/test_hygiene_edge.py instead.

    100 TB shape: this IS the production path for distinct counting — a
    constant-size (~1.5 KB at rsd=0.05) mergeable HLL register set per
    group, partial-aggregated map-side, vs the exact count's expand +
    full shuffle of every distinct gram. Exact is fine at vocab scale;
    web-scale gram streams use this.
    """
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select(
        "source", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    grams = toks.select(
        "source",
        F.explode(
            F.expr(
                "case when size(t) >= 3 then transform(sequence(1, size(t) - 2),"
                " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),"
                " element_at(t, i + 2))) else cast(array() as array<string>) end"
            )
        ).alias("g"),
    )
    return grams.groupBy("source").agg(
        F.count_distinct("g").cast("bigint").alias("n_exact"),
        F.approx_count_distinct("g", rsd=0.05).cast("bigint").alias("n_approx"),
    )


def q_containment_pairs(spark, sf_dir):
    """Directional shingle containment: |A∩B| / |A| >= 0.5 — the
    asymmetric near-dup statistic (Broder's containment). Jaccard misses
    a short doc quoted inside a long one (union dominates); containment
    flags it in the quote->container direction, which is how quote
    farms, scraped excerpts, and doc-inside-doc wrappers are caught.

    Distributed shape: identical to `ngram_jaccard_pairs` (distinct
    shingles -> broadcast hot-shingle DF cap -> self-equi-join -> pair
    partial-agg), but keeps BOTH pair orientations (a != b, not a < b)
    because containment is directional; normalization divides by the
    CONTAINED side's shingle count only.
    """
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "case when size(toks) >= 3 then array_distinct(transform(sequence(1, size(toks) - 2),"
                " i -> concat_ws(' ', element_at(toks, i), element_at(toks, i + 1),"
                " element_at(toks, i + 2)))) else cast(array() as array<string>) end"
            )
        ).alias("shingle"),
    )
    hot = (
        shingles.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > _NGRAM_MAX_DF)
        .select("shingle")
    )
    shingles = shingles.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = shingles.alias("a")
    b = shingles.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "n_shingles", "na"
            ),
            "doc_a",
        )
        .filter(F.col("n_common") / F.col("na") >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_common") / F.col("na"), 6).alias("containment"),
        )
    )


def q_lsh_recall_report(spark, sf_dir):
    """Candidate-generation quality eval: recall of the MinHash-LSH
    operator (16 bands x 8 rows, verify at 0.25) against exact-Jaccard
    >= 0.8 ground truth — the S-curve predicts P(candidate | j=0.8)
    = 1-(1-0.8^8)^16 ~ 0.95, and this operator MEASURES it on the
    corpus, which is how banding parameters are tuned before a 100 TB
    run. Emits one row: n_true, n_lsh, n_hit, recall.

    Distributed shape: ground truth pays the exact shingle self-join
    (eval-scale corpora only — production tunes on a sample); the LSH
    side reuses `minhash_lsh_pairs` unchanged, and the DuckDB oracle
    composes that query's oracle SQL verbatim, so the report stays in
    lockstep with the operator it evaluates. Final counts are
    single-row partial-aggregated scalars crossed together.
    """
    sh = _shingles_df(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .filter(F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")) >= 0.8)
        .select("doc_a", "doc_b")
    )
    lsh = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    n_true = truth.agg(F.count("*").cast("bigint").alias("n_true"))
    n_lsh = lsh.agg(F.count("*").cast("bigint").alias("n_lsh"))
    n_hit = truth.join(lsh, ["doc_a", "doc_b"]).agg(
        F.count("*").cast("bigint").alias("n_hit")
    )
    return (
        n_true.crossJoin(n_lsh)
        .crossJoin(n_hit)
        .select(
            "n_true",
            "n_lsh",
            "n_hit",
            F.round(F.col("n_hit") / F.greatest(F.col("n_true"), F.lit(1)), 6).alias(
                "recall"
            ),
        )
    )


def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization + variant collapse: lowercase scheme/host,
    strip default ports (:80/:443), drop the fragment, drop utm_*
    tracking params, sort surviving query params — then group by the
    canonical form to count collapsed variants. This is the
    normalization that URL-keyed dedup / frontier dedup runs BEFORE
    hashing; without it each casing/tracking variant of one page counts
    as a distinct document.

    Messy variants are synthesized deterministically from doc_id (clean
    fixture); the whole chain is JVM-side string/array builtins — split,
    higher-order filter, array_sort, concat — one partial-aggregated
    groupBy, no UDF, no extra shuffle.
    """
    doc = _t(spark, sf_dir, "documents")
    scheme = F.expr("case when doc_id % 2 = 0 then 'HTTP' else 'https' end")
    host = F.expr(
        "concat('WWW.Example', cast(doc_id % 7 as string),"
        " case when doc_id % 3 = 0 then '.COM:80' else '.com' end)"
    )
    params = F.expr(
        "case when doc_id % 4 = 0 then 'utm_source=feed&b=2&a=1'"
        " when doc_id % 4 = 1 then 'a=1&b=2'"
        " when doc_id % 4 = 2 then 'b=2&a=1&utm_campaign=x'"
        " else '' end"
    )
    frag = F.expr("case when doc_id % 5 = 0 then '#section2' else '' end")
    raw = doc.select(
        "doc_id",
        F.concat(
            scheme,
            F.lit("://"),
            host,
            F.lit("/guide/intro"),
            F.when(params != "", F.concat(F.lit("?"), params)).otherwise(F.lit("")),
            frag,
        ).alias("url"),
    )
    defrag = F.expr("split_part(url, '#', 1)")
    pre_q = F.expr("split_part(split_part(url, '#', 1), '?', 1)")
    query = F.expr(
        "case when contains(split_part(url, '#', 1), '?')"
        " then split_part(split_part(url, '#', 1), '?', 2) else '' end"
    )
    canon_pre = F.expr(
        "concat(lower(regexp_extract(pre_q, '^([A-Za-z]+)://', 1)), '://',"
        " regexp_replace(lower(regexp_extract(pre_q, '^[A-Za-z]+://([^/]+)', 1)),"
        " ':(80|443)$', ''),"
        " regexp_extract(pre_q, '^[A-Za-z]+://[^/]+(/.*)$', 1))"
    )
    canon_q = F.expr(
        "array_join(array_sort(filter(split(query, '&'),"
        " p -> p != '' and not startswith(p, 'utm_'))), '&')"
    )
    canon = (
        raw.withColumn("defrag", defrag)
        .withColumn("pre_q", pre_q)
        .withColumn("query", query)
        .withColumn("cp", canon_pre)
        .withColumn("cq", canon_q)
        .select(
            "doc_id",
            "url",
            F.expr(
                "case when cq != '' then concat(cp, '?', cq) else cp end"
            ).alias("canonical_url"),
        )
    )
    return canon.groupBy("canonical_url").agg(
        F.count("*").cast("bigint").alias("n_variants"),
        F.countDistinct("url").cast("bigint").alias("n_distinct_raw"),
    )


def q_pdf_column_layout_order(spark, sf_dir):
    """Column-aware reading order (XY-cut-style layout analysis over PDF
    text blocks; extends T1's flat (y, x) sort —
    `helpers/text_extractor.py:24` — to multi-column pages the way
    published recursive XY-cut layout analysis does its first vertical
    cut). Blocks (synthetic deterministic layout: one block per
    sentence, geometry keyed off md5(text|doc_id)) are checked for a
    clean vertical cut at the page midline: a page is two-column iff NO
    block's bbox straddles the midline. Two-column pages read column 0
    top-to-bottom then column 1; single-column pages fall back to the
    flat (y, x0, seq) order.

    100 TB shape: everything is per-document higher-order array
    functions — layout analysis is data-parallel, ZERO exchanges, stays
    in whole-stage codegen next to the scan.
    """
    doc = _t(spark, sf_dir, "documents")
    sents = doc.select(
        "doc_id",
        F.expr(
            r"filter(transform(split(text, '\\.'), s -> trim(s)), s -> s != '')"
        ).alias("b"),
    )
    # per-block layout: h1 drives column side (h1 % 2), a rare midline
    # straddle flag (h1 % 29 = 0), and x0; y is an independent hex field
    meta = sents.select(
        "doc_id",
        F.expr(
            "case when size(b) = 0 then array() else"
            " transform(sequence(1, size(b)), i -> named_struct("
            " 'h1', cast(conv(substr(md5(concat(element_at(b, i), '|', doc_id)), 1, 2), 16, 10) as int),"
            " 'y', cast(conv(substr(md5(concat(element_at(b, i), '|', doc_id)), 3, 4), 16, 10) as int) % 40,"
            " 'i', i,"
            " 's', element_at(b, i))) end"
        ).alias("m"),
    )
    flagged = meta.select(
        "doc_id",
        F.expr("size(filter(m, x -> x.h1 % 29 = 0)) = 0").alias("is_two_col"),
        "m",
    )
    return flagged.select(
        "doc_id",
        "is_two_col",
        F.expr(
            "array_join(transform(array_sort(transform(m, x -> named_struct("
            " 'ck', case when is_two_col then x.h1 % 2 else 0 end,"
            " 'y', x.y,"
            " 'x0', case when x.h1 % 29 = 0 then 200 + x.h1 % 50"
            "            when x.h1 % 2 = 0 then 10 + x.h1 % 50"
            "            else 310 + x.h1 % 50 end,"
            " 'i', x.i,"
            " 's', x.s))), s -> s.s), '\\n')"
        ).alias("ordered_text"),
        F.expr("cast(size(m) as bigint)").alias("n_blocks"),
    )


def q_pdf_table_grid(spark, sf_dir):
    """Table-structure reconstruction from positioned PDF blocks (the
    step after T2's block extraction when the page region is tabular):
    quantize block y into table rows, order cells within a row by x,
    emit one row per (doc, row) with the cells pipe-joined in column
    order. Synthetic deterministic layout: first 24 tokens are cells,
    4 cells per row band, x keyed off md5(token#doc_id).

    100 TB shape: posexplode -> ONE groupBy(doc_id, row_idx) shuffle;
    within-row cell ordering happens inside the aggregate via
    array_sort(collect_list(struct)) so no window/global sort is
    needed; grid keys are (doc, row) so skew is bounded by page size.
    """
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", F.expr(r"slice(split(trim(text), '\\s+'), 1, 24)").alias("t")
    )
    cells = toks.select(
        "doc_id", F.posexplode("t").alias("p0", "tok")
    ).select(
        "doc_id",
        F.expr("cast(floor(p0 / 4) as int)").alias("row_idx"),
        F.expr("p0 + 1").alias("pos"),
        F.expr(
            "cast(conv(substr(md5(concat(tok, '#', doc_id)), 1, 3), 16, 10) as int) % 1000"
        ).alias("x"),
        "tok",
    )
    return cells.groupBy("doc_id", "row_idx").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(x, pos, tok))),"
            " s -> s.tok), ' | ')"
        ).alias("row_text"),
        F.count("*").cast("bigint").alias("n_cells"),
    )


def q_band_dedup_keep_first(spark, sf_dir):
    """Batch twin of ``streaming.stream_band_dedup`` — keep-first MinHash
    band ownership (the streaming ingest gate's semantics, pinned here
    against the DuckDB oracle): each doc emits 8 band keys (16 per-row
    Carter-Wegman permutations, 2 rows/band, computed in higher-order
    array functions with no explode-groupBy); the OWNER of a band key is
    its lowest-doc_id holder ("first arrival" under the batch table's
    deterministic order); a doc is kept iff it owns ALL its bands. Docs
    with <3 tokens self-key and trivially pass.

    Distributed shape: narrow per-row signature -> ONE groupBy(band_key)
    for ownership -> equi-join back -> ONE groupBy(doc_id). State/keys
    scale with distinct band keys, never doc pairs; no window, no sort.
    """
    from ocr_spark import dedup

    doc = _t_spread(spark, sf_dir, "documents").select("doc_id", "text")
    banded = dedup.rowwise_band_keys(
        doc, self_key="doc_id", bands=8, rows_per_band=2
    ).select("doc_id", "band_key")
    owners = banded.groupBy("band_key").agg(F.min("doc_id").alias("owner"))
    joined = banded.join(owners, "band_key")
    per_doc = joined.groupBy("doc_id").agg(
        F.sum(F.expr("if(owner = doc_id, 1, 0)")).cast("bigint").alias("n_bands_owned")
    )
    return per_doc.select(
        "doc_id", "n_bands_owned", (F.col("n_bands_owned") == 8).alias("kept")
    )


def q_dup_span_islands(spark, sf_dir):
    """ExactSubstr-style duplicate-SPAN detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better": remove
    repeated substrings, not whole documents). 5-token grams are hashed
    once; a gram occurring >= 2 times corpus-wide is duplicated; per doc,
    maximal runs of consecutive duplicated gram positions merge into
    islands (the gaps-and-islands pattern: pos - row_number is constant
    within a run), each reported as a token span [span_start, span_end].

    Distributed shape: explode grams (narrow) -> ONE partial-aggregated
    groupBy(gram) for corpus counts -> equi-join the (gram, n) table back
    onto positions (no fanout: one row per distinct gram) -> per-doc
    window for run grouping (doc-keyed, no global sort) -> island
    groupBy reuses the doc partitioning. The gram-count aggregate
    absorbs hot stopword grams map-side; nothing here is pairwise.
    """
    L = 5
    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"case when size(toks) >= {L} then"
                f" transform(sequence(1, size(toks) - {L - 1}),"
                f" i -> md5(concat_ws(' ', slice(toks, i, {L}))))"
                " else cast(array() as array<string>) end"
            )
        ).alias("p0", "g"),
    ).select("doc_id", F.expr("p0 + 1").alias("pos"), "g")
    counts = grams.groupBy("g").agg(F.count("*").alias("n_occ"))
    dup_pos = (
        grams.join(counts, "g").filter(F.col("n_occ") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup_pos.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return runs.groupBy("doc_id", "grp").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        (F.max("pos") + F.lit(L - 1)).cast("bigint").alias("span_end"),
        F.count("*").cast("bigint").alias("n_grams"),
    ).select("doc_id", "span_start", "span_end", "n_grams")


def q_incremental_band_dedup(spark, sf_dir):
    """Incremental FUZZY dedup of an incoming batch against a frozen
    corpus (the production crawl-ingest case: the 100 TB corpus's pair
    graph is already settled; only new-vs-corpus matters). Split:
    doc_id % 10 == 0 is the incoming batch, the rest the corpus. Both
    sides get per-row MinHash band keys (8 bands x 2 rows — the
    streaming gate's signature); a new doc is a near-dup candidate iff
    ANY of its band keys exists in the corpus key set.

    Distributed shape: the corpus reduces to DISTINCT band keys (ONE
    partial-aggregated groupBy — the only corpus-sized shuffle, reused
    across every future batch if materialized); the batch left-joins
    that key set and aggregates per doc. Never pairwise, never
    batch x corpus: cost is |corpus keys| + |batch| per ingest."""
    from ocr_spark import dedup

    doc = _t_spread(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = doc.filter("doc_id % 10 != 0")
    batch = doc.filter("doc_id % 10 = 0")
    corpus_keys = (
        dedup.rowwise_band_keys(corpus, self_key="doc_id")
        .select("band_key").distinct()
        .withColumn("in_corpus", F.lit(1))
    )
    batch_bands = dedup.rowwise_band_keys(batch, self_key="doc_id").select(
        "doc_id", "band_key"
    )
    marked = batch_bands.join(corpus_keys, "band_key", "left")
    return marked.groupBy("doc_id").agg(
        F.sum(F.expr("if(in_corpus is not null, 1, 0)"))
        .cast("bigint")
        .alias("n_matched_bands"),
        F.max(F.expr("in_corpus is not null")).alias("is_near_dup"),
    )


# --------------------------------------------------------------------------
# data-layout / table-maintenance family: the metadata-plane operators an
# Iceberg-scale (10^12-turn, 100 TB) corpus needs to stay fast — compaction
# planning, clustering-key layout, manifest min/max pruning, snapshot CDC.
# The reference's analog is its cache/TTL bookkeeping (redis_service.py:
# 135-202); here the operations are first-class relational plans.


def q_bucketed_layout_audit(spark, sf_dir):
    """Bucketed-output layout audit — ``jobs/extract_job.py
    --bucketed-output`` as a registry-visible fact at the driver's own
    sf: writes the extraction output and its conversation rollup as
    conv_id-bucketed tables (bucketBy+sortBy via saveAsTable), re-joins
    them with broadcast disabled, EXECUTES the join, and reports the
    physical-plan evidence (Exchange count, SortMergeJoin presence)
    alongside the joined row count so the plan claim is tied to real
    data movement.

    Rows-only by design — plan introspection is not SQL-expressible;
    tests/test_bucketing.py pins the same shape and PLANS.md carries
    the full ``.explain``. 100 TB: both tables are written once
    bucketed by conv_id (Iceberg's ``bucket(N, conv_id)`` partition
    transform on a real catalog), so every later conv-keyed join
    between them is shuffle-free — the dominant repeated Exchange
    becomes a one-time layout cost at write time."""
    from ocr_spark.operators.aggregate import conv_text
    from ocr_spark.operators.bucketing import bucketed_join, write_bucketed
    from ocr_spark.operators.extract import extract

    # one extraction pass feeds both writes (localCheckpoint so the
    # second write doesn't re-run the Arrow UDF over the corpus)
    ext = extract(doc_transcripts(spark, sf_dir)).localCheckpoint()
    write_bucketed(ext, "audit_extracted_b", 8)
    write_bucketed(
        conv_text(ext), "audit_conv_text_b", 8, sort_cols=("conv_id",)
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "audit_extracted_b", "audit_conv_text_b")
        plan_str = joined._jdf.queryExecution().executedPlan().toString()
        n_joined = joined.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    return spark.createDataFrame(
        [
            (
                int(plan_str.count("Exchange")),
                "SortMergeJoin" in plan_str,
                int(n_joined),
            )
        ],
        "join_exchanges int, sort_merge_join boolean, joined_turns bigint",
    )


def q_compaction_plan(spark, sf_dir):
    """Small-file compaction planning (Iceberg ``rewrite_data_files``
    binpack strategy): treating each document as a data file of
    ``n_chars`` bytes inside its ``source`` partition, assign files to
    target-size output bins in file order — ``bin_id =
    floor(bytes_before / TARGET)`` — and emit the rewrite manifest: one
    row per (source, bin) with file count, byte total, and the doc_id
    range it covers.

    Distributed shape: ONE shuffle (hash on ``source``) feeds the
    cumulative-size window — partition-local ordering, never a global
    sort — and the bin groupBy's key starts with the window's partition
    key so it reuses that Exchange (plan-test pinned). At 100 TB this
    plan runs over the MANIFEST table (one row per data file), ~10^6x
    smaller than the data it reorganizes; only the rewrite it emits
    touches data files."""
    target = 4096
    doc = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    files = doc.select(
        "source", "doc_id", F.col("n_chars").alias("size_bytes")
    ).withColumn(
        "bytes_before", F.coalesce(F.sum("size_bytes").over(w), F.lit(0))
    )
    binned = files.withColumn(
        "bin_id", F.floor(F.col("bytes_before") / F.lit(float(target)))
    )
    return binned.groupBy("source", "bin_id").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("size_bytes").cast("bigint").alias("bin_bytes"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


_ZORDER_EXPR = (
    "aggregate(sequence(0, 7), cast(0 as bigint), (acc, i) -> acc"
    " + shiftleft(shiftright(x, i) & 1, 2 * i)"
    " + shiftleft(shiftright(y, i) & 1, 2 * i + 1))"
)


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton-curve) clustering-key layout vs insertion-order
    layout (Delta ``OPTIMIZE ZORDER BY`` / Iceberg sort-order rewrite):
    interleave the low 8 bits of two dimensions (x = event_id % 256,
    y = user_id % 256) into a 16-bit Morton key, bucket rows into files
    by key RANGE (zorder: z/128; linear: event_id/512), and report each
    layout's per-file min-max span on BOTH dimensions — the quantity
    manifest pruning depends on. Z-order shrinks both spans at once;
    insertion order leaves both at ~255.

    Distributed shape: the Morton key is pure codegen'd bit arithmetic
    on the scan (no UDF); file assignment is key-range bucketing — NO
    global sort, no window — so each layout costs exactly one
    partial-aggregated groupBy(file_id) plus a 1-row roll-up. At 100 TB
    the same key feeds ``repartitionByRange(z)`` + sortWithinPartitions
    to physically rewrite; this query is the planning/telemetry half."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_id") % 256).alias("x"),
        (F.col("user_id") % 256).alias("y"),
    )

    def spans(df, layout, file_expr):
        per_file = (
            df.withColumn("file_id", file_expr)
            .groupBy("file_id")
            .agg(
                (F.max("x") - F.min("x")).alias("span_x"),
                (F.max("y") - F.min("y")).alias("span_y"),
                F.count("*").alias("n_rows"),
            )
        )
        return per_file.agg(
            F.lit(layout).alias("layout"),
            F.count("*").cast("bigint").alias("n_files"),
            F.round(F.avg("span_x"), 4).alias("avg_span_x"),
            F.round(F.avg("span_y"), 4).alias("avg_span_y"),
            F.round(F.avg("n_rows"), 4).alias("avg_rows_per_file"),
        )

    linear = spans(
        ev, "linear", F.floor(F.col("event_id") / F.lit(512.0))
    )
    zed = spans(
        ev.withColumn("z", F.expr(_ZORDER_EXPR)),
        "zorder",
        F.floor(F.col("z") / F.lit(128.0)),
    )
    return linear.unionByName(zed).select(
        "layout", "n_files", "avg_span_x", "avg_span_y", "avg_rows_per_file"
    )


def q_manifest_prune_stats(spark, sf_dir):
    """Manifest min/max file-skipping efficacy (Iceberg manifest /
    Parquet footer pruning): group rows into data files under two
    layouts — insertion order (file = event_id/500) and clustered on
    the predicate column (file = user_id/10) — record each file's
    min/max of ``user_id`` (the manifest entry), then evaluate the scan
    plan for ``user_id BETWEEN 40 AND 60``: files whose [min,max] range
    overlaps must be read, the rest prune. Reports per layout: files
    read, prune ratio, rows scanned vs rows matched (read
    amplification) — the numbers that justify clustering a 100 TB
    table on its hot predicate column.

    Distributed shape: per layout one partial-aggregated
    groupBy(file_id) over codegen'd row math, then a 1-row roll-up;
    no joins, no windows, no sort. The real table's manifests already
    hold these stats — this query is the planner's cost model made
    explicit."""
    lo, hi = 40, 60
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id")

    def stats(layout, file_expr):
        per_file = (
            ev.withColumn("file_id", file_expr)
            .groupBy("file_id")
            .agg(
                F.min("user_id").alias("fmin"),
                F.max("user_id").alias("fmax"),
                F.count("*").alias("n_rows"),
                F.sum(
                    F.when(
                        F.col("user_id").between(lo, hi), 1
                    ).otherwise(0)
                ).alias("n_matched"),
            )
        )
        overlaps = (F.col("fmax") >= lo) & (F.col("fmin") <= hi)
        return per_file.agg(
            F.lit(layout).alias("layout"),
            F.count("*").cast("bigint").alias("n_files"),
            F.sum(F.when(overlaps, 1).otherwise(0))
            .cast("bigint")
            .alias("files_read"),
            F.sum(F.when(overlaps, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("n_matched").cast("bigint").alias("rows_matched"),
        ).select(
            "layout",
            "n_files",
            "files_read",
            "rows_scanned",
            "rows_matched",
            F.round(
                F.lit(1.0) - F.col("files_read") / F.col("n_files"), 4
            ).alias("prune_ratio"),
            F.round(
                F.col("rows_scanned") / F.col("rows_matched"), 4
            ).alias("read_amplification"),
        )

    linear = stats("insertion", F.floor(F.col("event_id") / F.lit(500.0)))
    clustered = stats("clustered", F.floor(F.col("user_id") / F.lit(10.0)))
    return linear.unionByName(clustered)


def q_snapshot_cdc_diff(spark, sf_dir):
    """Snapshot-over-snapshot CDC diff (Iceberg ``changelog`` /
    ``CREATE CHANGELOG VIEW``): given corpus version v1 (the documents
    table) and v2 (derived deterministically: doc_id%17==2 deleted,
    doc_id%5==0 revised, doc_id%19==0 also inserted under
    doc_id+200000), emit one row per changed key with its action —
    added / removed / changed — and the byte sizes on each side.
    Unchanged rows never leave the join. This is the read side of
    incremental recomputation: downstream dedup/stats jobs consume the
    diff, not the full 100 TB corpus.

    Distributed shape: one full-outer equi-join on the key (both sides
    hash-shuffle once; AQE broadcasts the delta side when small — the
    common CDC case) with the action classification in codegen. The
    store-level twin over real committed snapshots is
    ``ocr_spark.pipeline.diff_snapshots`` (pytest-covered)."""
    doc = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = (
        doc.filter(F.col("doc_id") % 17 != 2)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.col("text"), F.lit(" [rev2]")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            doc.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.lit("new: "), F.col("text")).alias("text"),
            )
        )
    )
    a = doc.alias("a")
    b = v2.alias("b")
    joined = a.join(b, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("b.text").isNull(), "removed")
        .when(F.col("a.text").isNull(), "added")
        .when(F.col("a.text") != F.col("b.text"), "changed")
        .otherwise("unchanged")
        .alias("action"),
        F.length("a.text").cast("bigint").alias("chars_before"),
        F.length("b.text").cast("bigint").alias("chars_after"),
    )
    return joined.filter(F.col("action") != "unchanged")


# --------------------------------------------------------------------------
# retrieval-eval family: hybrid rank fusion + ranking-quality metrics over
# the BM25 (sparse) and cosine (dense) retrievers defined above — the
# evaluation half of a retrieval-augmented training-data pipeline.


def _dense_top(spark, sf_dir, k):
    """Cosine top-k vs the vec_id=0 query vector, rounded like
    q_cosine_topk (round 4 BEFORE ranking so ranks match the oracle)."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .join(F.broadcast(query))
        .withColumn(
            "cosine",
            F.round(F.expr(_cosine_expr("embedding", "q_embedding")), 4),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", "cosine")
    )


def q_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion (Cormack et al., SIGIR 2009) of the
    sparse (BM25, q_bm25_topk) and dense (cosine vs vec_id=0,
    q_cosine_topk) retrievers — the standard hybrid-retrieval combiner:
    rrf = sum over systems of 1/(60 + rank), full-outer on the doc key
    (doc_id == vec_id on this corpus) so a doc ranked by only one
    system still scores. Top-10 fused.

    Distributed shape: each retriever ends in TakeOrderedAndProject
    (bounded k=20 head — never a global sort), so the rank window and
    the fusion join run over two 20-row inline heads; everything
    upstream keeps the retrievers' own plans (posting-list BM25 with
    broadcast idf; broadcast query vector). At 100 TB with a query
    workload the same fusion runs per query over per-query heads."""
    k = 20
    sw = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    sparse = (
        q_bm25_topk(spark, sf_dir)
        .withColumn("sparse_rank", F.row_number().over(sw))
        .select("doc_id", "sparse_rank")
    )
    dw = Window.orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    dense = (
        _dense_top(spark, sf_dir, k)
        .withColumn("dense_rank", F.row_number().over(dw))
        .select(F.col("vec_id").alias("doc_id"), "dense_rank")
    )
    fused = sparse.join(dense, "doc_id", "full_outer").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("sparse_rank").cast("bigint").alias("sparse_rank"),
        F.col("dense_rank").cast("bigint").alias("dense_rank"),
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(60.0) + F.col("sparse_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(60.0) + F.col("dense_rank")), F.lit(0.0)
            ),
            6,
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(10)


def q_ndcg_at_10(spark, sf_dir):
    """nDCG@10 of the BM25 ranking against graded relevance derived
    from term coverage (rel = min(3, distinct query terms present)) —
    the ranking-quality gate a retrieval index ships with. DCG uses the
    standard exponential gain (2^rel - 1)/log2(rank + 1); IDCG re-ranks
    by relevance itself (ties broken by doc_id, mirrored in the
    oracle).

    Distributed shape: relevance is one partial-aggregated
    groupBy(doc_id) over the pre-filtered posting stream (only
    query-term tokens survive to the shuffle, as in q_bm25_topk); both
    the system and ideal heads are bounded TakeOrdered(10); the final
    metric is a 2x(10-row) aggregate join — constant-size after the
    heads."""
    from ocr_spark.functions import tokens

    doc = _t_spread(spark, sf_dir, "documents")
    rel = (
        doc.select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term").isin(list(_BM25_TERMS)))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_terms"))
        .select(
            "doc_id", F.least(F.lit(3), F.col("n_terms")).alias("rel")
        )
    )
    sw = Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
    system = (
        q_bm25_topk(spark, sf_dir)
        .withColumn("rank", F.row_number().over(sw))
        .filter(F.col("rank") <= 10)
        .join(rel, "doc_id", "left")
        .select("rank", F.coalesce(F.col("rel"), F.lit(0)).alias("rel"))
    )
    iw = Window.orderBy(F.col("rel").desc(), F.col("doc_id").asc())
    ideal = (
        rel.orderBy(F.col("rel").desc(), F.col("doc_id").asc())
        .limit(10)
        .withColumn("rank", F.row_number().over(iw))
    )

    def dcg():
        # a column EXPRESSION over (rel, rank); binds at the .agg() site
        return F.sum(
            (F.pow(F.lit(2.0), F.col("rel")) - F.lit(1.0))
            / F.log2(F.col("rank") + F.lit(1.0))
        )

    d = system.agg(F.round(dcg(), 6).alias("dcg10"))
    i = ideal.agg(F.round(dcg(), 6).alias("idcg10"))
    return d.crossJoin(i).select(
        "dcg10",
        "idcg10",
        F.round(F.col("dcg10") / F.col("idcg10"), 6).alias("ndcg10"),
    )


def q_mm_audio_chunks(spark, sf_dir):
    """Audio chunk segmentation (the audio third of the multimodal
    surface, beside image resize and video frame sampling): overlapping
    4-unit windows every 2 units per audio file, each chunk a JVM-side
    byte slice with its sample count — the cut an ASR training pipeline
    feeds to a feature extractor.

    Distributed shape: decode meta (Arrow-batched) -> equi-join payload
    -> explode chunk starts -> builtin substring/md5; no Python in the
    chunking path, rows ~= files x ceil(duration/hop), never payload
    duplication beyond the chunk slices themselves."""
    from ocr_spark.operators.multimodal import (
        audio_chunks,
        decode_media_meta,
        media_from_documents,
    )

    media = media_from_documents(_t(spark, sf_dir, "documents"))
    meta = decode_media_meta(media).select(
        "media_id", "kind", "n_frames", "sample_rate"
    )
    joined = media.select("media_id", "payload").join(meta, "media_id")
    ch = audio_chunks(joined, window=4, hop=2)
    return ch.select(
        "media_id",
        "chunk_start",
        "chunk_end",
        "n_samples",
        F.length("chunk_bytes").cast("bigint").alias("chunk_n_bytes"),
        F.md5("chunk_bytes").alias("chunk_sha"),
    )


def q_length_bucket_batches(spark, sf_dir):
    """Length-bucketed batch planning (the padding-efficiency pass a
    training dataloader runs before tokenized text ships to GPUs):
    round each doc's token count up to its power-of-2 bucket (clamped
    [16, 1024]), report per-bucket doc counts, real vs padded token
    totals, and padding waste — plus the unbucketed baseline (every doc
    padded to the global cap) as a final row. Bucketing turns ~50-80%
    pad waste into a few percent; this query is the report that proves
    it on a given corpus.

    Distributed shape: token counts are narrow scan math; one
    partial-aggregated groupBy(bucket) (≤7 groups) plus a 1-row global
    aggregate for the baseline — no sort, no join, no window."""
    doc = _t(spark, sf_dir, "documents")
    toks = doc.select(
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("n_tokens")
    )
    bucket = F.least(
        F.lit(1024),
        F.greatest(
            F.lit(16),
            F.pow(F.lit(2.0), F.ceil(F.log2(F.col("n_tokens")))).cast("int"),
        ),
    )
    bucketed = (
        toks.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum(F.least(F.col("n_tokens"), F.col("bucket")))
            .cast("bigint")
            .alias("clipped_tokens"),
        )
        .withColumn(
            "padded_tokens",
            (F.col("n_docs") * F.col("bucket")).cast("bigint"),
        )
        .select(
            F.lit("bucketed").alias("layout"),
            F.col("bucket").cast("bigint").alias("bucket"),
            "n_docs",
            "total_tokens",
            "padded_tokens",
            F.round(
                F.lit(1.0) - F.col("clipped_tokens") / F.col("padded_tokens"),
                6,
            ).alias("pad_waste"),
        )
    )
    unbucketed = toks.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.least(F.lit(1024), F.max("n_tokens")).alias("cap"),
        F.sum(F.least(F.col("n_tokens"), F.lit(1024)))
        .cast("bigint")
        .alias("clipped_tokens"),
    ).select(
        F.lit("unbucketed").alias("layout"),
        F.col("cap").cast("bigint").alias("bucket"),
        "n_docs",
        "total_tokens",
        (F.col("n_docs") * F.col("cap")).cast("bigint").alias("padded_tokens"),
        F.round(
            F.lit(1.0)
            - F.col("clipped_tokens") / (F.col("n_docs") * F.col("cap")),
            6,
        ).alias("pad_waste"),
    )
    return bucketed.unionByName(unbucketed)


def q_md_structure(spark, sf_dir):
    """Markdown structure extraction over a deterministically rendered
    markdown twin of each document (heading from the first words, a
    fenced code block appended for doc_id%3==0 — the transcript
    archetype where assistant turns carry fenced code): per doc, the
    heading count, fence count, fenced-code char total, and the fence
    language tag — the markdown sibling of the HTML boilerplate
    stripper, kept JVM-side via regexp builtins (no UDF).

    Distributed shape: pure narrow per-row regexp math on the scan —
    ZERO exchanges; at 100 TB the cost is one pass, embarrassingly
    parallel."""
    doc = _t(spark, sf_dir, "documents")
    md = F.concat(
        F.lit("# "),
        F.array_join(F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 3), " "),
        F.lit("\n\n"),
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("\n\n```python\nx = "),
                F.col("doc_id").cast("string"),
                F.lit("\n```"),
            ),
        ).otherwise(F.lit("")),
    )
    with_md = doc.select("doc_id", md.alias("md"))
    fences = F.expr(r"regexp_extract_all(md, '```([a-z]*)\\n([^`]*)```', 2)")
    langs = F.expr(r"regexp_extract_all(md, '```([a-z]*)\\n([^`]*)```', 1)")
    headings = F.expr(r"regexp_extract_all(md, '(^|\\n)(#{1,6} [^\\n]+)', 2)")
    return with_md.select(
        "doc_id",
        F.size(headings).cast("bigint").alias("n_headings"),
        F.size(fences).cast("bigint").alias("n_fences"),
        F.aggregate(
            fences, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
        ).alias("code_chars"),
        F.array_join(langs, ",").alias("fence_langs"),
    )


def q_analyze_table_stats(spark, sf_dir):
    """Column-level table statistics (Spark ``ANALYZE TABLE ... COMPUTE
    STATISTICS FOR COLUMNS`` / Iceberg puffin stats — what the
    cost-based optimizer joins and the manifest planner prune with):
    per column of the documents table, null count, distinct count,
    min/max (stringified for a uniform schema), and average value
    length. One row per column.

    Distributed shape: ONE aggregate pass over the scan computes every
    column's stats (count_distinct compiles to Catalyst's expand +
    two-phase partial agg); the per-column unpivot happens on the 1-row
    result via stack — the expensive part touches the data exactly
    once. At 100 TB swap count_distinct for approx_count_distinct
    (HLL++, mergeable) — same plan, sketch-sized state."""
    doc = _t(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = []
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__ndv"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
            F.avg(F.length(F.col(c).cast("string"))).alias(f"{c}__avglen"),
        ]
    wide = doc.agg(*aggs)
    stack_expr = "stack({}, {}) as (col_name, n_nulls, ndv, min_s, max_s, avg_len)".format(
        len(cols),
        ", ".join(
            f"'{c}', {c}__nulls, {c}__ndv, {c}__min, {c}__max, {c}__avglen"
            for c in cols
        ),
    )
    return wide.select(F.expr(stack_expr)).select(
        "col_name",
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        F.col("ndv").cast("bigint").alias("ndv"),
        "min_s",
        "max_s",
        F.round("avg_len", 4).alias("avg_len"),
    )


def q_weighted_reservoir_sample(spark, sf_dir):
    """Weighted reservoir sampling without replacement (Efraimidis-
    Spirakis 2006, the exponential-race formulation): per doc draw a
    content-keyed uniform u and keep the k=50 smallest -ln(u)/weight
    (weight = n_chars — longer docs proportionally likelier). One pass,
    any corpus size, deterministic across runs and engines — the
    sampling primitive mixture pipelines use when "take k docs,
    length-weighted" must be reproducible.

    Distributed shape: narrow per-row key math on the scan + ONE
    TakeOrderedAndProject — the distributed top-k IS the reservoir; no
    shuffle of the corpus, no window, no state."""
    doc = _t(spark, sf_dir, "documents")
    unit = (
        F.expr("cast(conv(substr(md5(text), 25, 8), 16, 10) as bigint)")
        + F.lit(1.0)
    ) / F.lit(4294967296.0)
    key = F.round(-F.log(unit) / F.col("n_chars"), 10)
    sel = doc.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        key.alias("es_key"),
    )
    return sel.orderBy(F.col("es_key").asc(), F.col("doc_id").asc()).limit(50)


def q_gap_fill_interpolate(spark, sf_dir):
    """Time-series gap filling with linear interpolation (the
    hypertable / continuous-aggregate resample: TimescaleDB
    ``time_bucket_gapfill`` + ``interpolate``): per user, the hourly
    mean value on a dense 1-hour grid between that user's first and
    last observed hour; missing hours interpolate linearly between the
    neighboring observations (edges carry the nearest value).

    Distributed shape: one groupBy(user, hour) partial-aggregated
    rollup; the dense grid explodes from per-user (min, max) bounds —
    never a calendar cross-join; the fill is two user-keyed windows
    (carry-forward last + carry-back first over the SAME partitioning
    and ordering, so Catalyst plans one Exchange + one Sort for both);
    cost scales with grid rows, not observations squared."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 8)
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.avg("value").alias("v"))
    bounds = hourly.groupBy("user_id").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
        ).alias("hr"),
    )
    g = grid.join(hourly, ["user_id", "hr"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    prev_v = F.last("v", ignorenulls=True).over(w_prev)
    prev_h = F.last(
        F.when(F.col("v").isNotNull(), F.col("hr")), ignorenulls=True
    ).over(w_prev)
    next_v = F.first("v", ignorenulls=True).over(w_next)
    next_h = F.first(
        F.when(F.col("v").isNotNull(), F.col("hr")), ignorenulls=True
    ).over(w_next)
    frac = (
        F.unix_timestamp(F.col("hr")) - F.unix_timestamp(prev_h)
    ) / (F.unix_timestamp(next_h) - F.unix_timestamp(prev_h))
    filled = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return g.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hr"),
        # explicit floor(x*1e4+0.5)/1e4 rather than round(): the inputs
        # are 2-decimal values, so interpolation midpoints land EXACTLY on
        # .xxxx5 — Spark's round (shortest-string HALF_UP) and DuckDB's
        # (binary half-away) disagree there; this formula is the same IEEE
        # ops in both engines, so the result is bit-identical.
        (F.floor(filled * 10000 + F.lit(0.5)) / 10000.0).alias("value_filled"),
        F.col("v").isNull().alias("interpolated"),
    )


def q_column_correlations(spark, sf_dir):
    """Pairwise Pearson correlations between the numeric measures of
    lineitem (quantity, extendedprice, discount) — the correlation
    panel of a data-profiling pass (and the input to feature pruning
    before classifier training). One row per column pair.

    Distributed shape: ONE aggregate pass over a 3-column pruned scan
    computes all three corr() moments map-side (partial aggregation);
    the pair unpivot runs on the 1-row result. Never a self-join."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("c_qty_price"),
        F.corr("l_quantity", "l_discount").alias("c_qty_disc"),
        F.corr("l_extendedprice", "l_discount").alias("c_price_disc"),
    )
    stack_expr = (
        "stack(3,"
        " 'l_quantity', 'l_extendedprice', c_qty_price,"
        " 'l_quantity', 'l_discount', c_qty_disc,"
        " 'l_extendedprice', 'l_discount', c_price_disc"
        ") as (col_a, col_b, corr_v)"
    )
    return wide.select(F.expr(stack_expr)).select(
        "col_a", "col_b", F.round("corr_v", 6).alias("corr_v")
    )


def q_hard_negative_mining(spark, sf_dir):
    """Hard-negative mining for contrastive/embedding training (the
    DPR/SimCSE data-prep pass): for each of the first 4 anchor vectors,
    the top-5 most-similar vectors with a DIFFERENT label — maximally
    confusable negatives, the pairs that actually move a contrastive
    loss. Same-label neighbors are positives and excluded.

    Distributed shape: the 4-row anchor set broadcasts into the corpus
    scan (never corpus x corpus); the label-mismatch filter cuts before
    scoring; per-anchor heads come from ONE rank-window over the scored
    stream partitioned by anchor — at production anchor counts the
    window is anchor-keyed (parallel), and the corpus is pre-bucketed
    by the ANN index (q_ann_bucketed_topk) so scoring touches a bucket,
    not the corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("a_emb"),
        F.col("label").alias("a_label"),
    )
    cand = emb.filter(F.col("vec_id") >= 4)
    scored = (
        cand.join(F.broadcast(anchors))
        .filter(F.col("label") != F.col("a_label"))
        .select(
            "anchor_id",
            "vec_id",
            F.col("label").cast("bigint").alias("neg_label"),
            F.round(F.expr(_cosine_expr("embedding", "a_emb")), 4).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            F.col("anchor_id").cast("bigint").alias("anchor_id"),
            F.col("vec_id").cast("bigint").alias("vec_id"),
            "neg_label",
            "cosine",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def q_ivf_recall_report(spark, sf_dir):
    """IVF recall eval — the dense-index twin of q_lsh_recall_report:
    measured recall@10 of IVF search at nprobe=1 and nprobe=2 against
    the brute-force cosine top-10 ground truth for the vec_id=0 query.
    This is how nprobe is tuned before an index ships: the report shows
    exactly how much recall the second probe buys.

    Distributed shape: ground truth pays one broadcast-query brute scan
    (eval only — production evals on a query sample); both IVF sides
    reuse the probe plans unchanged (broadcast probe set, equi-join on
    cluster id); the final report is a 10-row three-way mark-join
    reduced to one row."""
    k = 10
    brute = _dense_top(spark, sf_dir, k).select("vec_id")
    assigned = _ivf_assignments(spark, sf_dir)
    q1 = assigned.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding"),
        F.col("cluster").alias("q_cluster"),
    )
    ivf1 = (
        assigned.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q1), F.col("cluster") == F.col("q_cluster"))
        .withColumn(
            "cosine",
            F.round(F.expr(_cosine_expr("embedding", "q_embedding")), 4),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", F.lit(1).alias("in1"))
    )
    scored = _ivf_scored(spark, sf_dir)
    wq = Window.partitionBy("vec_id").orderBy(
        F.col("dist").asc(), F.col("cc").asc()
    )
    probes = (
        scored.filter(F.col("vec_id") == 0)
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= 2)
        .select(
            F.col("embedding").alias("q_embedding"),
            F.col("cc").alias("q_cluster"),
        )
    )
    ivf2 = (
        assigned.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probes), F.col("cluster") == F.col("q_cluster"))
        .withColumn(
            "cosine",
            F.round(F.expr(_cosine_expr("embedding", "q_embedding")), 4),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
        .select("vec_id", F.lit(1).alias("in2"))
    )
    marked = brute.join(ivf1, "vec_id", "left").join(ivf2, "vec_id", "left")
    return marked.agg(
        F.count("*").cast("bigint").alias("n_true"),
        F.sum(F.coalesce(F.col("in1"), F.lit(0)))
        .cast("bigint")
        .alias("hit_nprobe1"),
        F.sum(F.coalesce(F.col("in2"), F.lit(0)))
        .cast("bigint")
        .alias("hit_nprobe2"),
    ).select(
        "n_true",
        "hit_nprobe1",
        "hit_nprobe2",
        F.round(F.col("hit_nprobe1") / F.col("n_true"), 4).alias(
            "recall_nprobe1"
        ),
        F.round(F.col("hit_nprobe2") / F.col("n_true"), 4).alias(
            "recall_nprobe2"
        ),
    )


def q_scd2_history(spark, sf_dir):
    """Slowly-changing-dimension type 2 history (the warehouse twin of
    q_merge_upsert's SCD1 overwrite): three corpus versions derive
    deterministically (v1 = base; v2 revises doc_id%5==0; v3 revises
    doc_id%7==0), and the operator emits one row per (doc_id, version
    run) with valid_from / valid_to / is_current — the full audit
    history a compliance review or a training-data lineage query walks.

    Distributed shape: the versions union (narrow), consecutive
    duplicate states collapse via ONE doc-keyed window chain (lag to
    flag changes, running sum to number runs) and one (doc, run)
    groupBy that reuses the window's partitioning prefix. Never a
    self-join per version pair — cost is rows x versions, linear."""
    doc = _t(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = doc.select("doc_id", "text", F.lit(1).alias("version"))
    v2 = doc.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")).alias("text"),
        F.lit(2).alias("version"),
    )
    v3 = doc.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [rev3]"))
        ).when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
        ).otherwise(F.col("text")).alias("text"),
        F.lit(3).alias("version"),
    )
    hist = v1.unionByName(v2).unionByName(v3)
    w = Window.partitionBy("doc_id").orderBy("version")
    runs = hist.withColumn(
        "changed",
        F.when(
            F.lag("text").over(w).isNull()
            | (F.lag("text").over(w) != F.col("text")),
            1,
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("changed").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    out = runs.groupBy("doc_id", "run_id").agg(
        F.min("version").cast("bigint").alias("valid_from"),
        F.max("version").cast("bigint").alias("valid_to_incl"),
        F.length(F.first("text")).cast("bigint").alias("n_chars"),
    )
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("run_id").cast("bigint").alias("run_id"),
        "valid_from",
        "valid_to_incl",
        (F.col("valid_to_incl") == 3).alias("is_current"),
        "n_chars",
    )


def q_robots_gate(spark, sf_dir):
    """robots.txt-style crawl gating with longest-prefix-rule-wins
    semantics (RFC 9309 §2.2.2): each document's synthesized URL path is
    matched against a per-host rule table (allow/deny path prefixes);
    the MOST SPECIFIC (longest) matching rule decides, no match means
    allowed. The gate every crawl-derived corpus applies before a byte
    is fetched or kept.

    Distributed shape: the rule table is crawl-config-sized, so it
    BROADCASTS into a prefix-match theta-join (startswith); the
    longest-match argmax is a max(struct(len, verdict)) inside one
    partial-aggregated groupBy per URL — never a window, never a second
    shuffle. At web scale rules-per-host stays bounded, so the match
    fan-out is a constant factor."""
    doc = _t(spark, sf_dir, "documents")
    urls = doc.select(
        "doc_id",
        F.expr(
            "concat('/s', cast(doc_id % 4 as string),"
            " case when doc_id % 3 = 0 then '/private' else '/posts' end,"
            " '/p', cast(doc_id as string))"
        ).alias("path"),
    )
    rules = spark.createDataFrame(
        [
            ("/s0", False),
            ("/s0/posts", True),
            ("/s1/private", False),
            ("/s2", False),
            ("/s2/private", False),
            ("/s3/posts/p3", False),
        ],
        "prefix string, allow boolean",
    )
    matched = urls.join(
        F.broadcast(rules), F.expr("startswith(path, prefix)"), "left"
    )
    decided = matched.groupBy("doc_id", "path").agg(
        F.max(
            F.when(
                F.col("prefix").isNotNull(),
                F.struct(F.length("prefix").alias("l"), F.col("allow")),
            )
        ).alias("best")
    )
    return decided.select(
        "doc_id",
        "path",
        F.coalesce(F.col("best.allow"), F.lit(True)).alias("allowed"),
        F.coalesce(F.col("best.l"), F.lit(0)).cast("bigint").alias("rule_len"),
    )


def q_anchor_text_aggregation(spark, sf_dir):
    """Anchor-text aggregation (the web-graph quality signal: what OTHER
    pages' link text says about a page — the CommonCrawl anchor dataset
    shape): over the content-keyed 2-out-link graph q_pagerank uses,
    collect each target's in-link count, distinct-source count, and its
    top anchor term (each source contributes its first word as the
    anchor; mode with deterministic count-then-term tie-break).

    Distributed shape: edges derive narrowly from the scan; ONE
    partial-aggregated groupBy(dst, term) then a per-dst max(struct)
    mode reduction that reuses the dst-prefixed partitioning — two
    exchanges total at most, never a join back to the corpus."""
    doc = _t_spread(spark, sf_dir, "documents")
    n = doc.count()
    anchor = F.split(F.trim(F.col("text")), r"\s+").getItem(0).alias("anchor")
    edges = (
        _content_link_edges(doc, n, extra=(anchor,))
        .withColumnRenamed("src", "src_id")
        .filter(F.col("dst") != F.col("src_id"))
    )
    per_term = edges.groupBy("dst", "anchor").agg(
        F.count("*").alias("n_links"),
        F.countDistinct("src_id").alias("n_sources"),
    )
    return per_term.groupBy("dst").agg(
        F.sum("n_links").cast("bigint").alias("in_links"),
        F.sum("n_sources").cast("bigint").alias("in_sources"),
        F.max(
            F.struct(
                F.col("n_links").alias("c"), F.col("anchor").alias("t")
            )
        )["t"].alias("top_anchor"),
    ).select(
        F.col("dst").cast("bigint").alias("dst"),
        "in_links",
        "in_sources",
        "top_anchor",
    )


def q_tpch_q18ish(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): orders whose total
    lineitem quantity exceeds a threshold, joined back to customer —
    the aggregate-then-semi-join pattern (HAVING as a join gate).

    Distributed shape: the quantity rollup partial-aggregates map-side
    and its HAVING filter cuts BEFORE the join back, so only qualifying
    orderkeys (a tiny set) join against orders/customer — AQE broadcasts
    them; the head is TakeOrdered."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    joined = (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            F.round("total_qty", 4).alias("total_qty"),
        )
    )
    return joined.orderBy(
        F.col("total_qty").desc(), F.col("o_orderkey").asc()
    ).limit(20)


def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility by language (tokens-per-word and
    bytes-per-token under the BPE-ish boundary tokenizer) — the
    cross-language fairness audit a tokenizer ships with: a language
    whose fertility is 2x pays 2x the context budget for the same
    content (and gets effectively less compute per byte).

    Distributed shape: both token counts are narrow regexp/array math
    on the scan; ONE partial-aggregated groupBy(lang) — the corpus is
    touched exactly once."""
    from ocr_spark.functions import token_count

    doc = _t(spark, sf_dir, "documents")
    per = doc.select(
        "lang",
        F.length("text").alias("n_chars"),
        token_count("text").alias("n_words"),
        F.expr(f"size(regexp_extract_all(text, '{_BPE_PATTERN}', 0))").alias(
            "n_bpe"
        ),
    )
    return per.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_bpe").cast("bigint").alias("n_bpe_tokens"),
        F.round(F.sum("n_bpe") / F.sum("n_words"), 6).alias("tokens_per_word"),
        F.round(F.sum("n_chars") / F.sum("n_bpe"), 6).alias("bytes_per_token"),
    )


def q_cluster_size_histogram(spark, sf_dir):
    """Near-dup cluster-size histogram — the power-law audit of a dedup
    run: how much of the corpus sits in 2-clusters vs mega-clusters
    (mega-clusters usually mean boilerplate, not true duplication, and
    get reviewed before dropping).

    Distributed shape: on top of the connected-components loop, two
    tiny aggregates (cluster sizes -> size histogram); everything after
    the pair graph is pair-graph-sized."""
    clusters = q_dedup_clusters(spark, sf_dir)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("k"))
    return (
        sizes.groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("k").cast("bigint").alias("n_docs"),
        )
        .select(
            F.col("k").cast("bigint").alias("cluster_size"),
            "n_clusters",
            "n_docs",
        )
    )


def q_prefix_sharing_stats(spark, sf_dir):
    """Shared-prefix (KV-cache reuse) potential over conversations: how
    many conversations open with the same system prompt — the quantity
    prefix caching (paged-attention prefix reuse) converts into compute
    savings: each group of n re-computes its prefix once, not n times.
    System prompts are synthesized deterministically here (3 canned
    prompts keyed by conversation id); on a real agent-trace table the
    prefix is turn 0's text verbatim — identical plan.

    Distributed shape: one distinct over conv ids, narrow prompt
    assignment, then two tiny aggregates — corpus touched once for the
    conv list."""
    doc = _t(spark, sf_dir, "documents")
    prompts = [
        "You are a helpful assistant. Answer carefully and cite sources.",
        "Answer concisely. Use tools when a lookup is required.",
        "You are a coding agent. Prefer minimal diffs and run the tests.",
    ]
    convs = doc.select(F.col("source").alias("conv_id")).distinct()
    pick = (
        F.expr("cast(conv(substr(md5(conv_id), 1, 2), 16, 10) as int)") % 3
    )
    arr = F.array(*[F.lit(p) for p in prompts])
    with_prompt = convs.select(
        "conv_id",
        F.element_at(arr, pick + 1).alias("sys_prompt"),
    ).withColumn(
        "prefix_tokens", F.size(F.split(F.col("sys_prompt"), " "))
    )
    groups = with_prompt.groupBy("sys_prompt", "prefix_tokens").agg(
        F.count("*").alias("n_convs")
    )
    return (
        groups.groupBy("n_convs")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum((F.col("n_convs") - F.lit(1)) * F.col("prefix_tokens"))
            .cast("bigint")
            .alias("reusable_tokens"),
        )
        .select(
            F.col("n_convs").cast("bigint").alias("group_size"),
            "n_groups",
            "reusable_tokens",
        )
    )


def q_mixture_token_budget(spark, sf_dir):
    """Training-mix token budgeting: given the temperature-sampled
    source weights (q_source_mixture_weights) and a total token budget,
    how many tokens each source contributes and how many epochs over it
    that implies — epochs >> 1 flags a source the mixture will repeat
    enough to memorize.

    Distributed shape: everything after the one corpus groupBy(source)
    is |sources|-sized arithmetic."""
    budget = 1000000
    per = q_source_mixture_weights(spark, sf_dir)
    return per.select(
        "source",
        "n_tokens",
        "mix_weight",
        F.round(F.col("mix_weight") * budget, 2).alias("budget_tokens"),
        F.round(F.col("mix_weight") * budget / F.col("n_tokens"), 4).alias(
            "epochs"
        ),
    )


def q_k_anonymity_report(spark, sf_dir):
    """k-anonymity audit over quasi-identifiers (lang, source, length
    decile) — the privacy review a released corpus passes before stats
    or samples ship: equivalence classes smaller than k=5 re-identify
    their members and must be suppressed or generalized. Reports each
    class size with its suppression verdict plus the overall suppressed
    fraction as a final summary row (source='__TOTAL__').

    Distributed shape: one partial-aggregated groupBy over the
    quasi-identifier tuple; the summary is a second aggregate over the
    class table (equivalence-class-sized, not corpus-sized)."""
    k = 5
    doc = _t(spark, sf_dir, "documents")
    classes = doc.select(
        "lang",
        "source",
        (F.least(F.floor(F.length("text") / F.lit(100.0)), F.lit(9)))
        .cast("int")
        .alias("len_decile"),
    ).groupBy("lang", "source", "len_decile").agg(
        F.count("*").cast("bigint").alias("class_size")
    )
    detail = classes.select(
        "lang",
        "source",
        F.col("len_decile").cast("bigint").alias("len_decile"),
        "class_size",
        (F.col("class_size") < k).alias("suppress"),
    )
    total = classes.agg(
        F.lit("__ALL__").alias("lang"),
        F.lit("__TOTAL__").alias("source"),
        F.lit(-1).cast("bigint").alias("len_decile"),
        F.sum(F.when(F.col("class_size") < k, F.col("class_size")).otherwise(0))
        .cast("bigint")
        .alias("class_size"),
        (
            F.sum(F.when(F.col("class_size") < k, F.col("class_size")).otherwise(0))
            > 0
        ).alias("suppress"),
    )
    return detail.unionByName(total)


def q_dp_noised_histogram(spark, sf_dir):
    """Differentially-private histogram release (Laplace mechanism,
    eps=1, sensitivity 1 for a count histogram): the per-language doc
    counts a corpus publishes WITHOUT exposing exact membership. The
    Laplace draw is content-keyed (inverse-CDF over an md5-derived
    uniform per cell) so the release is deterministic across runs and
    engines — the reproducible-release discipline DP deployments use
    (fixed-seed noise per release id).

    Distributed shape: one partial-aggregated groupBy(lang); the noise
    is |cells|-sized arithmetic. Noised counts are clamped at 0 and the
    true counts never leave the query."""
    eps = 1.0
    doc = _t(spark, sf_dir, "documents")
    per = doc.groupBy("lang").agg(F.count("*").alias("true_n"))
    # u in (-0.5, 0.5): content-keyed uniform from the cell key
    u = (
        F.expr("cast(conv(substr(md5(concat('release1:', lang)), 1, 8), 16, 10) as bigint)")
        + F.lit(1.0)
    ) / F.lit(4294967296.0) - F.lit(0.5)
    lap = (
        -F.signum(u)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u))
        / F.lit(eps)
    )
    return per.select(
        "lang",
        F.greatest(
            F.round(F.col("true_n") + lap, 0).cast("bigint"), F.lit(0)
        ).alias("dp_count"),
    )


def q_quality_calibration(spark, sf_dir):
    """Classifier calibration / reliability table: the hashed-bigram
    quality score bucketed into deciles against an independent proxy
    label (the Gopher alpha-ratio gate) — before a score threshold
    gates a 100 TB corpus, this table shows whether score deciles
    actually order label rates monotonically (and where the threshold
    should sit). Per decile: doc count, mean score, observed pass rate.

    Distributed shape: score and label are narrow per-row math on one
    scan; ONE partial-aggregated groupBy(decile) — never a sort (the
    decile is a fixed-width score bucket, not a rank)."""
    from ocr_spark.functions import hashed_bigram_score, tokens

    doc = _t_spread(spark, sf_dir, "documents")
    toks = doc.select("doc_id", "text", tokens("text").alias("toks"))
    score = hashed_bigram_score("toks")
    alpha_ratio = F.expr(
        "size(filter(toks, t -> t rlike '[a-zA-Z]')) / greatest(size(toks), 1)"
    )
    scored = toks.filter(score.isNotNull()).select(
        score.alias("s"),
        (alpha_ratio >= F.lit(0.8)).alias("label"),
    )
    decile = F.least(F.floor(F.col("s") * 10), F.lit(9)).cast("int")
    return (
        scored.groupBy(decile.alias("score_decile"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.round(F.avg("s"), 6).alias("mean_score"),
            F.round(F.avg(F.col("label").cast("double")), 6).alias(
                "label_rate"
            ),
        )
        .select(
            F.col("score_decile").cast("bigint").alias("score_decile"),
            "n_docs",
            "mean_score",
            "label_rate",
        )
    )


def q_inspection_sample(spark, sf_dir):
    """Human-QA inspection pack: a deterministic stratified sample of up
    to 2 documents per (lang, quality bucket) — the eyeball set every
    curation change ships with so a reviewer sees each stratum, not
    just the head of the corpus. Content-keyed ranking makes the pack
    stable across runs (diffs between packs = real corpus changes).

    Distributed shape: one window ranked by the content hash within
    each stratum (strata are bounded, so the window is parallel across
    them), filter rank <= 2 — Spark pushes a WindowGroupLimit partial
    top-k below the shuffle."""
    from ocr_spark.functions import quality_score

    doc = _t(spark, sf_dir, "documents")
    q = quality_score("text")
    strat = doc.select(
        "doc_id",
        "lang",
        F.least(F.floor(q * 4), F.lit(3)).cast("int").alias("q_bucket"),
        F.md5("text").alias("h"),
    )
    w = Window.partitionBy("lang", "q_bucket").orderBy("h", "doc_id")
    return (
        strat.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select(
            "doc_id",
            "lang",
            F.col("q_bucket").cast("bigint").alias("q_bucket"),
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def q_lsh_tuning_report(spark, sf_dir):
    """LSH candidate-generation tuning curve — the one-row report that
    sets banding and verify thresholds before a 100 TB dedup run:
    candidate count (bucket-join output), overlapping-candidate count
    (>=1 shared shingle), survivor counts at Jaccard >= .25/.5/.75/.9,
    and candidate precision at the production threshold (verify cost is
    |candidates|, so precision IS the cost model). Complements
    lsh_recall_report (recall side) and ivf_recall_report (dense twin).

    Distributed shape: reuses the production dedup chain unchanged;
    the sweep is conditional sums over the verified-pair table
    (pair-graph-sized), crossed with the 1-row candidate count."""
    from ocr_spark import dedup

    docs = _t_spread(spark, sf_dir, "documents")
    cand = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs))
    vp = dedup.verified_pairs(docs, min_jaccard=0.0)
    c = cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
    v = vp.agg(
        F.count("*").cast("bigint").alias("n_overlapping"),
        *[
            F.sum(F.when(F.col("jaccard") >= t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_ge_{str(t).replace('.', '')}")
            for t in (0.25, 0.5, 0.75, 0.9)
        ],
    )
    return c.crossJoin(v).select(
        "n_candidates",
        "n_overlapping",
        "n_ge_025",
        "n_ge_05",
        "n_ge_075",
        "n_ge_09",
        F.round(F.col("n_ge_025") / F.col("n_candidates"), 6).alias(
            "precision_at_025"
        ),
    )


_BM25_BATCH = (
    (0, "spark"), (0, "table"),
    (1, "hash"), (1, "merge"),
    (2, "window"), (2, "table"),
)


def q_bm25_batch_topk(spark, sf_dir):
    """Batched BM25 — the per-query-batch production shape the
    single-query q_bm25_topk's docstring promises: a (query_id, term)
    table broadcasts into the posting stream, every query scores in ONE
    pass over the corpus, and the per-query top-3 comes from a
    query-keyed rank window (parallel across queries, WindowGroupLimit
    partial top-k below its shuffle).

    Distributed shape: the corpus-side term filter is a broadcast
    semi-join on the batch's distinct terms (tokens missing every query
    never shuffle); corpus stats and idf stay 1-row / |terms|-row
    broadcasts; scoring fans out |matching terms| x |queries containing
    them| — bounded by the batch, not the corpus."""
    from ocr_spark.functions import tokens

    doc = _t_spread(spark, sf_dir, "documents")
    qterms = spark.createDataFrame(
        list(_BM25_BATCH), "query_id int, term string"
    )
    toks = doc.select("doc_id", tokens("text").alias("toks"))
    stats = toks.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg(F.size("toks").cast("double")).alias("avgdl"),
    )
    stream = toks.select(
        "doc_id",
        F.size("toks").cast("double").alias("dl"),
        F.explode("toks").alias("term"),
    )
    tf = (
        stream.join(
            F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").cast("double").alias("df"))
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .select(
            "term",
            F.log(
                (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
                + F.lit(1.0)
            ).alias("idf"),
        )
    )
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .withColumn(
            "contrib",
            F.col("idf")
            * (F.col("tf") * (k1 + F.lit(1.0)))
            / (
                F.col("tf")
                + k1 * (F.lit(1.0) - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .join(F.broadcast(qterms), "term")
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("contrib"), 6).alias("bm25")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col("doc_id").cast("bigint").alias("doc_id"),
            "bm25",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# round 4 (cont.): the remaining TPC-H family, adapted to the synthetic
# star schema (no partsupp, no commit/receipt dates). Each query keeps the
# reference benchmark's JOIN/AGGREGATE shape — the part that matters at
# 100 TB — and re-expresses correlated subqueries as aggregate-then-join-
# back or semi/anti joins, the scalable Spark idioms.
# ---------------------------------------------------------------------------


def _eur_suppliers(spark, sf_dir, region="EUROPE"):
    """Region-restricted supplier dim (supplier x nation x region), built
    broadcast-side: constant-size in any TPC-H-like corpus."""
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == region)
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )


def q_tpch_q2ish(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier): for each qualifying part, the
    EUROPE supplier(s) offering the minimum unit cost. partsupp does not
    exist in this corpus, so the offer table derives from lineitem
    (min observed unit price per part x supplier) — same correlated
    MIN-subquery structure.

    Distributed shape: the correlated ``cost = (SELECT min ...)`` becomes
    ONE per-part aggregate joined back on (partkey, cost) equality —
    never a per-part re-scan. The supplier-region dim broadcasts ahead of
    the offer aggregation so the min is region-restricted map-side; the
    part filter broadcasts; head is TakeOrderedAndProject."""
    dim = _eur_suppliers(spark, sf_dir)
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"),
    )
    offer = (
        li.join(F.broadcast(dim), li.l_suppkey == dim.s_suppkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("unit_cost").alias("cost"))
    )
    best = (
        offer.groupBy("l_partkey")
        .agg(F.min("cost").alias("min_cost"))
        .withColumnRenamed("l_partkey", "b_partkey")
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_type") == "LARGE") & (F.col("p_size") >= 40))
        .select("p_partkey", "p_name")
    )
    dim2 = _eur_suppliers(spark, sf_dir)
    return (
        offer.join(
            best,
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("cost") == F.col("min_cost")),
        )
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .join(F.broadcast(dim2), F.col("l_suppkey") == dim2.s_suppkey)
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            F.col("p_partkey").cast("bigint").alias("p_partkey"),
            "p_name",
            F.round("cost", 4).alias("cost"),
        )
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey")
        )
        .limit(20)
    )


def q_tpch_q4ish(spark, sf_dir):
    """TPC-H Q4 shape (order priority checking): orders in one quarter
    having at least one late lineitem (shipped >60 days after the order
    date — the corpus has no commit/receipt dates), counted by priority.

    Distributed shape: the EXISTS is a LEFT SEMI join on orderkey with
    the lateness predicate folded into the join condition, so lineitem
    never materializes per-order duplicates and the count is
    partial-aggregated. The quarter predicate pushes to the orders scan."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.expr("o_orderdate + INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("order_count")
    )


def q_tpch_q7ish(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping between two nations): revenue
    between supplier-nation and customer-nation pairs (both directions),
    by ship year.

    Distributed shape: both nation lookups ride broadcast dims (supplier
    and nation are bounded); the nation-pair predicate applies at the
    dim build so the big lineitem x orders shuffle join only carries
    surviving rows; conditional pair filter folds into the join."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
        .select("c_custkey", "cust_nation")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").cast("bigint").alias("n_lineitems"),
        )
    )


def q_tpch_q8ish(spark, sf_dir):
    """TPC-H Q8 shape (national market share): NATION_3's share of
    AMERICA-customer ECONOMY-part revenue per year — the
    conditional-sum-over-join ratio.

    Distributed shape: part filter and both nation dims broadcast; the
    share is a single conditional aggregate (sum(case)/sum), never two
    passes; date window pushes to the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .select("s_suppkey", "supp_nation")
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(F.year("l_shipdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0))
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


def q_tpch_q9ish(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit): profit on red parts by
    supplier nation and year. partsupp's supplycost doesn't exist, so
    cost is modeled as 10% of retail price x quantity — the join tree
    (lineitem x part x supplier x nation x orders) is Q9's.

    Distributed shape: part (name-filtered) and supplier-nation dims
    broadcast; the one big shuffle is lineitem x orders on orderkey;
    profit partial-aggregates map-side."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("red"))
        .select("p_partkey", "p_retailprice")
    )
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .select("s_suppkey", "nation")
    )
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 4).alias("sum_profit"))
    )


def q_tpch_q11ish(spark, sf_dir):
    """TPC-H Q11 shape (important stock): parts whose NATION_7-supplied
    revenue exceeds a fixed fraction of the national total. partsupp's
    value doesn't exist; value derives from lineitem revenue — the
    global-fraction HAVING structure is Q11's.

    Distributed shape: per-part aggregate, then the scalar national
    total rides a 1-row broadcast crossJoin back onto the per-part rows
    (the scalar-subquery idiom; never a second scan), filter in codegen."""
    sn = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    per_part = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("value")
        )
    )
    total = per_part.agg(F.sum("value").alias("total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.round(F.col("value"), 4) > F.round(0.0015 * F.col("total_value"), 4))
        .select(
            F.col("l_partkey").cast("bigint").alias("p_partkey"),
            F.round("value", 4).alias("value"),
        )
    )


def q_tpch_q13ish(spark, sf_dir):
    """TPC-H Q13 shape (customer order distribution): histogram of
    per-customer order counts INCLUDING zero-order customers, excluding
    one priority class — the outer-join-then-double-aggregate.

    Distributed shape: LEFT OUTER join customer->orders on custkey with
    the exclusion folded into the join condition (never a pre-filter
    that would turn outer into inner); both aggregates partial-aggregate;
    the second groupBy is on the tiny count-distribution domain."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (~F.col("o_orderpriority").startswith("4-")),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("bigint").alias("custdist")
    )


def q_tpch_q15ish(spark, sf_dir):
    """TPC-H Q15 shape (top supplier): the supplier(s) achieving maximum
    quarterly revenue, ties included — the view + scalar-max structure.

    Distributed shape: per-supplier aggregate once; the scalar max rides
    a 1-row broadcast crossJoin back (never recompute the view, never a
    global sort); supplier names broadcast at the end."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("total_revenue")
        )
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
            "s_name",
            "total_revenue",
        )
    )


def q_tpch_q16ish(spark, sf_dir):
    """TPC-H Q16 shape (part/supplier relationship count): distinct
    supplier count per (brand, type, size) over a filtered part set,
    excluding flagged suppliers (negative balance stands in for the
    complaints LIKE). partsupp derives from lineitem's (part, supplier)
    pairs.

    Distributed shape: the supplier exclusion is a broadcast LEFT ANTI
    (the NOT IN subquery idiom — null-safe by construction); the part
    filter broadcasts; countDistinct partial-aggregates."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").startswith("PROMO"))
        & (F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    )
    bad_supp = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(
            F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti"
        )
        .join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type", "p_size")),
            li.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type", F.col("p_size").cast("int").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


def q_tpch_q17ish(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): revenue of
    Brand#3 lineitems whose quantity is below 20% of that part's average
    — the correlated AVG subquery, re-expressed as aggregate-then-
    join-back.

    Distributed shape: per-part AVG computed once (partial-aggregated),
    joined back on partkey; the brand filter broadcasts onto BOTH the
    aggregate input and the probe so neither side scans unfiltered
    lineitem. Quantities are integral doubles, so the avg is exact and
    the 0.2x threshold is engine-stable."""
    part = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#3")
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    branded = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).drop(
        "p_partkey"
    )
    avg_qty = branded.groupBy("l_partkey").agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        branded.join(avg_qty, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


def q_tpch_q19ish(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates): one
    revenue sum under an OR-of-ANDs over part attributes x lineitem
    quantity bands.

    Distributed shape: the disjunction references both sides, so it
    folds into the broadcast hash join's condition — Catalyst still
    pushes the partkey equi-key, and the residual OR evaluates in
    codegen; never three unioned scans."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 5))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    return (
        li.join(F.broadcast(part), (li.l_partkey == part.p_partkey) & cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count("*").cast("bigint").alias("n_lineitems"),
        )
    )


def q_tpch_q20ish(spark, sf_dir):
    """TPC-H Q20 shape (suppliers with excess stock): AFRICA suppliers
    who shipped >100 units of red parts in 1996 — the nested
    IN-subquery chain (part -> lineitem agg -> supplier), re-expressed
    as broadcast-filtered aggregate then dim join.

    Distributed shape: the red-part key set broadcasts into the lineitem
    scan (the IN becomes a broadcast semi-structure); one partial-
    aggregated groupBy(suppkey); the region-restricted supplier dim
    broadcasts; threshold filters post-agg (HAVING)."""
    red = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("red"))
        .select("p_partkey")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    qty = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("red_qty"))
        .filter(F.col("red_qty") > 100)
    )
    dim = _eur_suppliers(spark, sf_dir, region="AFRICA")
    return qty.join(F.broadcast(dim), qty.l_suppkey == dim.s_suppkey).select(
        "s_name", "n_name", F.round("red_qty", 2).alias("red_qty")
    )


def q_tpch_q22ish(spark, sf_dir):
    """TPC-H Q22 shape (global sales opportunity): above-average-balance
    customers with no recent orders (the corpus has no zero-order
    customers, so 'recent' = 2001+), counted per nation — the scalar
    AVG subquery + NOT EXISTS anti-join.

    Distributed shape: the scalar average rides a 1-row broadcast
    crossJoin; the NOT EXISTS is a LEFT ANTI on custkey against the
    date-pruned orders scan; final aggregate partial-aggregates on the
    25-key nation domain."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01"))
        .select("o_custkey")
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    return (
        rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("int").alias("cntry"))
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# round 4 (continuation): scalable CC, novelty pruning, JL compression eval,
# deterministic corpus shuffle
# ---------------------------------------------------------------------------


def q_cc_two_phase(spark, sf_dir):
    """Connected components over the verified MinHash-LSH pair graph by
    alternating large-star / small-star rounds — the O(log^2 n)
    MapReduce CC algorithm (Kiveris et al.), the scale path when dedup
    graphs chain into high-diameter components where per-round min-label
    propagation would need O(diameter) iterations.

    Same (doc_id, cluster_id) contract as q_dedup_clusters, so the
    DuckDB recursive-reachability oracle AND the min-label Spark twin
    both cross-check it. Scale shape: each phase is one
    partial-aggregated groupBy(min) + one equi-join; no neighbor lists
    are ever collected, so hot nodes stay join fan-out, not task-local
    arrays."""
    from ocr_spark import dedup

    return dedup.connected_components_two_phase(
        q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    )


def q_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty score — the data-pruning curation
    signal (fraction of a doc's distinct 3-word shingles that no
    earlier doc contains; low-novelty docs are near-boilerplate and get
    down-weighted or dropped in training-mixture construction).

    Scale shape: distinct shingles per doc (narrow) -> one
    partial-aggregated groupBy(shingle).min(doc_id) for the
    first-seeing doc -> equi-join back on shingle -> one
    partial-aggregated groupBy(doc_id). Two shuffles on the gram key,
    both combiner-friendly; 'earlier' is doc_id order, so the score is
    deterministic and engine-independent (no rng). Delegates to the
    production function (curate.ngram_novelty), so the harness
    value-checks the code path jobs would call."""
    from ocr_spark import curate

    return curate.ngram_novelty(
        _t_spread(spark, sf_dir, "documents").select("doc_id", "text")
    )


def q_rp_recall_report(spark, sf_dir):
    """Johnson-Lindenstrauss compression eval: project the 64-dim
    embeddings onto RP_K=16 Rademacher directions (signs derived from
    md5 so both engines embed the same literal matrix), then measure
    recall@10 of projected-space cosine search against full-dim brute
    force for the vec_id=0 query — how an embedding-compression choice
    (4x fewer floats moved per shuffle) is validated before a 100 TB
    ANN/dedup job switches to it.

    Scale shape: the projection is a narrow per-row map (16 codegen'd
    ordered folds); both top-10s are TakeOrderedAndProject; the report
    is a 10-row mark-join reduced to one row."""
    from ocr_spark import params

    emb = _t(spark, sf_dir, "embeddings")
    signs = params.rp_signs()
    proj_cols = [
        F.expr(
            "aggregate(zip_with(embedding, array("
            + ",".join(str(s) for s in signs[j])
            + "), (x, s) -> cast(x as double) * s), cast(0.0 as double),"
            " (acc, v) -> acc + v)"
        ).alias(f"p{j}")
        for j in range(params.RP_K)
    ]
    projected = emb.select(
        "vec_id",
        "embedding",
        F.array(*[c for c in proj_cols]).alias("proj"),
    )
    q = projected.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding"), F.col("proj").alias("q_proj")
    )
    scored = projected.filter(F.col("vec_id") != 0).join(F.broadcast(q))
    truth = (
        scored.withColumn(
            "cosine", F.round(F.expr(_cosine_expr("embedding", "q_embedding")), 4)
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id")
    )
    # production JL pattern: the projection is a CANDIDATE generator —
    # shortlist top-100 in projected space (TakeOrderedAndProject), then
    # exact-rerank the shortlist. The report shows the over-fetch lever:
    # direct recall@10 plus recall@10 within the 50- and 100-candidate
    # shortlists (what a rerank would recover).
    shortlist = (
        scored.withColumn(
            "pcos", F.round(F.expr(_cosine_expr("proj", "q_proj")), 4)
        )
        .orderBy(F.col("pcos").desc(), F.col("vec_id").asc())
        .limit(100)
        .select("vec_id", "pcos")
    )
    ranked = shortlist.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.col("pcos").desc(), F.col("vec_id").asc())
        ),
    ).select("vec_id", "rnk")
    return (
        truth.join(ranked, "vec_id", "left")
        .agg(
            F.count("*").cast("bigint").alias("n_true"),
            F.sum(F.when(F.col("rnk") <= 10, 1).otherwise(0))
            .cast("bigint")
            .alias("hit_at_10"),
            F.sum(F.when(F.col("rnk") <= 50, 1).otherwise(0))
            .cast("bigint")
            .alias("hit_at_50"),
            F.sum(F.when(F.col("rnk").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("hit_at_100"),
        )
        .select(
            "n_true",
            "hit_at_10",
            "hit_at_50",
            "hit_at_100",
            F.round(F.col("hit_at_10") / F.col("n_true"), 4).alias(
                "recall_at_10"
            ),
            F.round(F.col("hit_at_50") / F.col("n_true"), 4).alias(
                "recall_shortlist_50"
            ),
            F.round(F.col("hit_at_100") / F.col("n_true"), 4).alias(
                "recall_shortlist_100"
            ),
        )
    )


def q_corpus_shard_plan(spark, sf_dir):
    """Deterministic corpus shuffle/shard plan — reproducible global
    training-data ordering without rng: shard = md5(doc_id) mod 64 and
    within-shard order = the hash value itself, so the epoch-0 data
    order is a pure function of content keys (identical across runs,
    partitionings, and engines — unlike orderBy(rand())). The physical
    write is repartition(shard) + sortWithinPartitions(hkey); this
    query is the audit card a pipeline materializes alongside it.

    Scale shape: one narrow hash projection + one partial-aggregated
    groupBy(shard); min_by picks each shard's first document. The
    checksum (sum of hashes) pins the shard's full membership, so two
    runs producing the same card proved byte-identical epoch order."""
    from ocr_spark import params

    doc = _t(spark, sf_dir, "documents")
    hkey = F.expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 12), 16, 10) as bigint)"
    )
    sharded = doc.select(
        "doc_id",
        "n_chars",
        hkey.alias("hkey"),
        (hkey % params.SHARD_COUNT).cast("int").alias("shard"),
    )
    return sharded.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        # hkey is a 48-bit md5 prefix — injective over any realistic doc_id
        # population, so min_by is deterministic without a tie-break struct
        F.min_by("doc_id", "hkey").cast("bigint").alias("first_doc_id"),
        F.sum("hkey").cast("bigint").alias("order_checksum"),
    )


def q_semantic_decontam(spark, sf_dir):
    """Embedding-based (semantic) decontamination — the third decontam
    tier after exact n-gram (benchmark_decontam) and MinHash-band fuzzy
    (fuzzy_decontam): flag corpus docs whose embedding is close to ANY
    eval-set embedding, catching paraphrased benchmark leakage that
    token overlap misses. Eval membership here is the deterministic
    vec_id % 10 split; τ comes from params.SEM_DECONTAM_TAU (shared
    with the oracle).

    Scale shape: the eval side is benchmark-sized by definition, so its
    17-probe sign-LSH expansion (home bucket + all Hamming-1 flips)
    BROADCASTS — the corpus stream joins map-side on its own 16-bit
    sign signature and never self-joins or shuffles pairs. Each
    qualifying (corpus, eval) pair matches exactly one probe (home-home
    at d=0, the single flip at d=1), so candidate counts need no dedup.
    Cosine verification is candidate-first: cost ∝ candidates, never
    |corpus| x |eval|."""
    from ocr_spark import params

    emb = _t(spark, sf_dir, "embeddings")
    sig = F.expr(_sign_lsh_sig_expr())
    wb = emb.select("vec_id", "embedding", sig.alias("sig"))
    ev_probes = wb.filter("vec_id % 10 = 0").select(
        F.col("embedding").alias("e_emb"),
        F.explode(
            F.expr(_sign_probe_expr())
        ).alias("probe"),
    )
    corpus = wb.filter("vec_id % 10 != 0")
    cand = corpus.join(
        F.broadcast(ev_probes), F.col("sig") == F.col("probe")
    ).select(
        "vec_id",
        F.round(F.expr(_cosine_expr("embedding", "e_emb")), 4).alias("cosine"),
    )
    return cand.groupBy("vec_id").agg(
        F.round(F.max("cosine"), 4).alias("max_cosine"),
        F.count("*").cast("bigint").alias("n_eval_hits"),
    ).select(
        "vec_id",
        "max_cosine",
        "n_eval_hits",
        (F.col("max_cosine") >= F.lit(params.SEM_DECONTAM_TAU)).alias("flagged"),
    )


def q_ngram_novelty_incremental(spark, sf_dir):
    """Incremental novelty gate — the ingest-time twin of
    q_ngram_novelty (the production crawl case: the frozen corpus's
    gram set is already materialized; only batch-vs-corpus novelty
    matters for the keep/drop decision). Split: doc_id % 10 == 0 is
    the incoming batch, the rest the frozen corpus.

    Scale shape: the corpus reduces to DISTINCT shingles once (one
    partial-aggregated groupBy — reusable across every future ingest if
    materialized); the batch's distinct shingles left-join that set on
    the gram key and aggregate per doc. Never batch x corpus; cost per
    ingest is |corpus grams| + |batch grams|. Delegates to the
    production function (curate.ngram_novelty_vs_corpus)."""
    from ocr_spark import curate

    doc = _t_spread(spark, sf_dir, "documents").select("doc_id", "text")
    return curate.ngram_novelty_vs_corpus(
        doc.filter("doc_id % 10 = 0"), doc.filter("doc_id % 10 != 0")
    )


def q_dedup_graph_triangles(spark, sf_dir):
    """Dedup-graph triangle census — the graph-quality audit run after
    near-dup pair generation: high transitivity means duplicate families
    are clique-like (template farms; safe to collapse to one
    representative), low transitivity means chains (risky transitive
    merges that CC will glue together). Reports node/edge/triangle/wedge
    counts and global transitivity 3T/W over the verified MinHash-LSH
    pair graph.

    Scale shape: the classic degree-ordered orientation (each edge
    points from its lower (degree, id) endpoint), which bounds per-node
    out-degree to O(sqrt(E)) — so the wedge self-join fans out
    quadratically only in that bounded out-degree, never in a hot
    node's raw degree. All joins are equi-joins on node ids; every
    aggregate is two-phase."""
    # localCheckpoint: orient is referenced three times (wedge e1/e2 +
    # closure e3), so un-truncated lineage would re-embed — and
    # re-optimize — the whole MinHash-LSH pipeline per reference (the
    # CC lesson); the pair graph is the materialized artifact a real
    # pipeline censuses anyway
    pairs = (
        q_minhash_lsh_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    sym = pairs.union(pairs.select("doc_b", "doc_a")).toDF("u", "v")
    deg = sym.groupBy("u").agg(F.count("*").alias("d"))
    orient = (
        sym.join(deg.withColumnRenamed("d", "du"), "u")
        .join(
            deg.select(F.col("u").alias("v"), F.col("d").alias("dv")), "v"
        )
        .filter(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v", "dv")
    )
    e1 = orient.alias("e1")
    e2 = orient.alias("e2")
    e3 = orient.alias("e3")
    wedges = e1.join(
        e2,
        (F.col("e2.u") == F.col("e1.u"))
        & (
            (F.col("e1.dv") < F.col("e2.dv"))
            | (
                (F.col("e1.dv") == F.col("e2.dv"))
                & (F.col("e1.v") < F.col("e2.v"))
            )
        ),
    )
    tri = wedges.join(
        e3,
        (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")),
    ).agg(F.count("*").alias("c"))
    n_nodes = deg.agg(F.count("*").alias("n_nodes"))
    n_edges = pairs.agg(F.count("*").alias("n_edges"))
    wd = deg.agg(
        F.sum(F.expr("d * (d - 1) / 2")).cast("bigint").alias("n_wedges")
    )
    return (
        tri.crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(wd))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            F.col("c").cast("bigint").alias("n_triangles"),
            "n_wedges",
            F.round(
                F.lit(3.0) * F.col("c") / F.greatest(F.col("n_wedges"), F.lit(1)),
                6,
            ).alias("transitivity"),
        )
    )


def q_tool_transition_stats(spark, sf_dir):
    """Agent-trace tool-transition mining: which tool follows which
    within a conversation (the first-order Markov view of agent
    behavior — the telemetry that surfaces broken tool loops and
    dominant call chains before traces are kept for training). Tool
    names synthesized content-keyed from the turn text (same convention
    as tool_call_stats; a real transcripts table uses its stored tool
    column and the plan from the lag down is identical).

    Scale shape: one conv-keyed window (lag over turn order, tool turns
    only — reuses the adapter's conv_id Exchange) and one
    partial-aggregated groupBy over the |tools|^2-bounded transition
    key. No joins."""
    t = doc_transcripts(spark, sf_dir).withColumn("role", F.expr(_ROLE_EXPR))
    calls = t.filter(F.col("role") == "tool").select(
        "conv_id",
        "turn_idx",
        F.concat(
            F.lit("tool_"),
            (
                F.expr("cast(conv(substr(md5(text), 9, 4), 16, 10) as bigint)")
                % 5
            ).cast("string"),
        ).alias("tool"),
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    trans = calls.withColumn("prev_tool", F.lag("tool").over(w)).filter(
        F.col("prev_tool").isNotNull()
    )
    return trans.groupBy(
        F.col("prev_tool").alias("tool_from"), F.col("tool").alias("tool_to")
    ).agg(
        F.count("*").cast("bigint").alias("n_transitions"),
        F.countDistinct("conv_id").cast("bigint").alias("n_convs"),
    )


def q_mutual_nn_pairs(spark, sf_dir):
    """Reciprocal nearest-neighbor pairing over embeddings — the
    bitext/parallel-data mining primitive (LASER/CCMatrix-style): keep
    (a, b) only when b is a's best candidate AND a is b's best
    candidate. Mutuality is the cheap high-precision filter that turns
    a noisy neighbor graph into alignment pairs worth verifying.

    Scale shape: candidates come from the established 16-bit sign-LSH
    Hamming<=1 multiprobe (each qualifying pair generated exactly once
    per direction, no corpus self-join beyond the bucket equi-join);
    per-vector best = one max_by partial aggregate over candidates (no
    window, no sort); mutuality = one self equi-join of the |V|-row
    best table on the symmetric key."""
    emb = _t(spark, sf_dir, "embeddings")
    sig = F.expr(_sign_lsh_sig_expr())
    wb = emb.select("vec_id", "embedding", sig.alias("sig"))
    probes = wb.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("src_emb"),
        F.explode(
            F.expr(_sign_probe_expr())
        ).alias("probe"),
    )
    cand = (
        probes.join(wb, F.col("probe") == F.col("sig"))
        .filter(F.col("src") != F.col("vec_id"))
        .select(
            "src",
            F.col("vec_id").alias("dst"),
            F.round(F.expr(_cosine_expr("src_emb", "embedding")), 4).alias(
                "cosine"
            ),
        )
    )
    # best candidate per vector: deterministic argmax (cosine desc,
    # dst asc) as a partial-aggregated max_by — no window, no sort.
    # avg_top = mean of the 4 largest candidate cosines (CCMatrix-style
    # margin denominator); candidate lists are bucket-occupancy-bounded,
    # so the collect_list is small by construction.
    best = cand.groupBy("src").agg(
        F.max(F.struct(F.col("cosine"), (-F.col("dst")).alias("nd"))).alias(
            "m"
        ),
        F.max_by(
            "dst", F.struct(F.col("cosine"), (-F.col("dst")).alias("nd"))
        ).alias("nn"),
        F.expr(
            "aggregate(slice(array_sort(collect_list(cosine)),"
            " greatest(size(collect_list(cosine)) - 3, 1), 4),"
            " cast(0.0 as double), (acc, v) -> acc + v)"
            " / least(size(collect_list(cosine)), 4)"
        ).alias("avg_top"),
    ).select("src", F.col("m.cosine").alias("cosine"), "nn", "avg_top")
    a = best.alias("a")
    b = best.alias("b")
    return (
        a.join(
            b,
            (F.col("a.nn") == F.col("b.src"))
            & (F.col("b.nn") == F.col("a.src")),
        )
        .filter(F.col("a.src") < F.col("b.src"))
        .select(
            F.col("a.src").alias("vec_a"),
            F.col("b.src").alias("vec_b"),
            F.col("a.cosine").alias("cosine"),
            F.round(
                F.col("a.cosine")
                / ((F.col("a.avg_top") + F.col("b.avg_top")) / 2),
                4,
            ).alias("margin"),
        )
    )


def q_kcore_peel(spark, sf_dir, rounds: int | None = None, k: int | None = None):
    """k-core peeling of the verified near-dup pair graph — the graph
    audit that isolates the densely-interlinked core (template farms,
    spam rings: nodes surviving repeated removal of degree < k nodes)
    from peripheral one-off duplicates. params.KCORE_K=2,
    params.KCORE_ROUNDS=3 peel rounds, oracle unrolled in lockstep
    (the training-loop convention; rounds is the caller's knob on a
    real run and tests/test_training_depth.py proves depth-agnosticism
    for this unrolling style).

    Scale shape: each round is one partial-aggregated degree count over
    the surviving edge set plus two semi-joins restricting edges to
    surviving endpoints — all equi-keyed on node ids; the driver loop
    is iteration control only. Output: every pair-graph node with its
    final surviving-subgraph degree and core membership."""
    from ocr_spark import params

    rounds = params.KCORE_ROUNDS if rounds is None else rounds
    k = params.KCORE_K if k is None else k
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = (
        pairs.union(pairs.select("doc_b", "doc_a"))
        .toDF("u", "v")
        .localCheckpoint(eager=True)
    )
    all_nodes = sym.select(F.col("u").alias("doc_id")).distinct()
    edges = sym
    for _ in range(rounds):
        deg = edges.groupBy("u").agg(F.count("*").alias("d"))
        alive = deg.filter(F.col("d") >= k).select("u")
        edges = (
            edges.join(alive, "u")
            .join(alive.withColumnRenamed("u", "v"), "v")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    final_deg = edges.groupBy("u").agg(
        F.count("*").cast("bigint").alias("degree")
    )
    return (
        all_nodes.join(
            final_deg.withColumnRenamed("u", "doc_id"), "doc_id", "left"
        )
        .select(
            "doc_id",
            F.coalesce(F.col("degree"), F.lit(0)).cast("bigint").alias("degree"),
            (F.coalesce(F.col("degree"), F.lit(0)) >= k).alias("in_core"),
        )
    )


def q_bitext_mining_report(spark, sf_dir):
    """Bitext-mining report — the end-to-end use of mutual_nn_pairs
    (LASER/CCMatrix pipeline shape): reciprocal-NN aligned pairs joined
    back to document metadata, kept only when they look like genuine
    cross-lingual alignments (different languages, positive cosine,
    length ratio <= 2 — the standard bitext hygiene gates), then
    summarized per canonical language pair with pair counts and mean
    cosine/margin. This is the mining-yield card a parallel-corpus run
    ships per language pair.

    Scale shape: the pair table is mined-output-sized, so the two
    metadata joins are equi-joins on doc_id against the (pruned)
    documents scan; the rollup key is bounded by |langs|^2. The vec_id
    <-> doc_id identity is this sandbox's adapter; a real run carries
    doc ids through the embedding table."""
    pairs = q_mutual_nn_pairs(spark, sf_dir)
    doc = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    joined = (
        pairs.join(
            doc.select(
                F.col("doc_id").alias("vec_a"),
                F.col("lang").alias("la"),
                F.col("n_chars").alias("ca"),
            ),
            "vec_a",
        )
        .join(
            doc.select(
                F.col("doc_id").alias("vec_b"),
                F.col("lang").alias("lb"),
                F.col("n_chars").alias("cb"),
            ),
            "vec_b",
        )
        .filter(
            (F.col("la") != F.col("lb"))
            & (F.col("cosine") > 0)
            & (
                F.greatest("ca", "cb")
                <= F.lit(2.0) * F.least("ca", "cb")
            )
        )
    )
    return joined.groupBy(
        F.least("la", "lb").alias("lang_a"),
        F.greatest("la", "lb").alias("lang_b"),
    ).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.avg("cosine"), 4).alias("avg_cosine"),
        F.round(F.avg("margin"), 4).alias("avg_margin"),
    )


def q_dedup_cluster_purity(spark, sf_dir):
    """Per-cluster dedup-graph purity audit — the per-component view of
    what dedup_graph_triangles measures globally: for each connected
    component, its member count, verified-edge count, edge density
    (edges over member-pairs; 1.0 = clique = a true duplicate family,
    low density = a chain CC glued together — collapse with care), and
    the mean/min verified Jaccard. The audit a pipeline checks before
    committing to one-representative-per-cluster deletion.

    Scale shape: all verified pairs lie within clusters by
    construction, so the edge rollup is one equi-join (pair -> doc_a's
    cluster) plus a partial-aggregated groupBy(cluster); member counts
    reuse the clusters table; densities are narrow arithmetic on the
    |clusters|-row result."""
    from ocr_spark import dedup

    pairs = q_minhash_lsh_pairs(spark, sf_dir).localCheckpoint(eager=True)
    clusters = dedup.connected_components(pairs.select("doc_a", "doc_b"))
    members = clusters.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    edges = (
        pairs.join(
            clusters.withColumnRenamed("doc_id", "doc_a"), "doc_a"
        )
        .groupBy("cluster_id")
        .agg(
            F.count("*").cast("bigint").alias("n_edges"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
        )
    )
    return members.join(edges, "cluster_id").select(
        "cluster_id",
        "n_members",
        "n_edges",
        F.round(
            F.col("n_edges")
            / (F.col("n_members") * (F.col("n_members") - 1) / 2),
            6,
        ).alias("density"),
        "avg_jaccard",
        "min_jaccard",
    )


def q_embedding_centroid_drift(spark, sf_dir):
    """Embedding drift monitor: split the corpus into two deterministic
    halves (vec_id parity — the stand-in for old-batch vs new-batch or
    old-model vs re-embedded), compute each IVF cluster's per-half
    centroid, and report the cosine between the half-centroids plus the
    half populations. Centroid cosine near 1 with balanced counts means
    the cluster is stable under the split; low cosine or a lopsided
    count flags a cluster whose region drifted — the check run before
    reusing a trained IVF index on refreshed embeddings.

    Scale shape: centroids come from ONE posexplode + partial-aggregated
    groupBy(cluster, half, dim) — dims x clusters x 2 rows, tiny; the
    halves then equi-join on (cluster, dim) and reduce to one row per
    cluster. No vector ever crosses the shuffle whole."""
    assigned = _ivf_assignments(spark, sf_dir)
    dims = assigned.select(
        "cluster",
        (F.col("vec_id") % 2 == 0).alias("half_a"),
        "vec_id",
        F.posexplode("embedding").alias("dim", "x"),
    ).withColumn("x", F.col("x").cast("double"))
    cent = dims.groupBy("cluster", "half_a", "dim").agg(
        F.avg("x").alias("m")
    )
    counts = assigned.groupBy("cluster").agg(
        F.sum(F.expr("if(vec_id % 2 = 0, 1, 0)")).cast("bigint").alias("n_a"),
        F.sum(F.expr("if(vec_id % 2 = 1, 1, 0)")).cast("bigint").alias("n_b"),
    )
    a = cent.filter("half_a").select("cluster", "dim", F.col("m").alias("ma"))
    b = cent.filter("not half_a").select(
        "cluster", "dim", F.col("m").alias("mb")
    )
    drift = (
        a.join(b, ["cluster", "dim"])
        .groupBy("cluster")
        .agg(
            F.sum(F.expr("ma * mb")).alias("dot"),
            F.sum(F.expr("ma * ma")).alias("na"),
            F.sum(F.expr("mb * mb")).alias("nb"),
        )
        .select(
            "cluster",
            F.round(
                F.col("dot") / (F.sqrt("na") * F.sqrt("nb")), 4
            ).alias("centroid_cosine"),
        )
    )
    return counts.join(drift, "cluster", "left").select(
        "cluster", "n_a", "n_b", "centroid_cosine"
    )


def q_boilerplate_phrases(spark, sf_dir):
    """Boilerplate-phrase detection — the corpus-level template report
    that feeds strip-lists and the hot-shingle DF caps: 3-word shingles
    ranked by document frequency, with corpus reach and the first doc
    that carries each phrase. High-df phrases ("subscribe to our
    newsletter") are navigation/template debris; the report is what a
    curator reviews before adding them to a line-strip rule (the
    upstream twin of line_dedup_rebuild's keep-first).

    Scale shape: distinct shingles per doc (narrow) -> ONE
    partial-aggregated groupBy(shingle) carrying count + min(doc_id) ->
    TakeOrderedAndProject top-20. The gram stream reduces before it
    moves; nothing else shuffles."""
    from ocr_spark import dedup

    sh = dedup.shingles(
        _t_spread(spark, sf_dir, "documents").select("doc_id", "text")
    )
    n_docs = (
        _t(spark, sf_dir, "documents")
        .agg(F.count("*").alias("corpus_docs"))
    )
    ranked = sh.groupBy("shingle").agg(
        F.count("*").cast("bigint").alias("df"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )
    return (
        ranked.crossJoin(F.broadcast(n_docs))
        .select(
            "shingle",
            "df",
            F.round(F.col("df") / F.col("corpus_docs"), 6).alias("reach"),
            "first_doc",
        )
        .orderBy(F.col("df").desc(), F.col("shingle").asc())
        .limit(20)
    )


def q_epoch_shuffle_plan(spark, sf_dir):
    """Multi-epoch deterministic reshuffle — the epoch-salted extension
    of q_corpus_shard_plan: epoch e's order key is md5(doc_id ':' e),
    so every epoch gets a DIFFERENT but fully reproducible global
    order/sharding (what multi-epoch training wants: no repeated batch
    neighborhoods, no rng state to snapshot). The per-(epoch, shard)
    checksum card proves two runs produce byte-identical epoch streams.

    Scale shape: explode over the tiny epoch list (narrow), one
    partial-aggregated groupBy(epoch, shard); the physical write per
    epoch is repartition(shard) + sortWithinPartitions(hkey)."""
    from ocr_spark import params

    doc = _t(spark, sf_dir, "documents")
    e = doc.select(
        "doc_id",
        "n_chars",
        F.explode(F.expr("array(0, 1)")).alias("epoch"),
    )
    hkey = F.expr(
        "cast(conv(substr(md5(concat(cast(doc_id as string), ':',"
        " cast(epoch as string))), 1, 12), 16, 10) as bigint)"
    )
    sharded = e.select(
        "epoch",
        "n_chars",
        hkey.alias("hkey"),
        (hkey % params.SHARD_COUNT).cast("int").alias("shard"),
    )
    return sharded.groupBy("epoch", "shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum("hkey").cast("bigint").alias("order_checksum"),
    )


def q_trace_quality_gate(spark, sf_dir):
    """Agent-trace quality gate — the SFT-curation rule that decides
    which agent conversations are trainable: per conversation, tool-call
    volume, failure count, and the gate verdict (clean = no failed
    calls; traces with failures become preference/repair data instead of
    SFT positives). Tool payloads synthesized content-keyed exactly as
    in tool_call_stats; a real transcripts table uses its stored
    payloads and the plan from the parse down is identical.

    Scale shape: narrow role filter + JSON parse in codegen, ONE
    partial-aggregated groupBy(conv_id); the |convs|-row verdict table
    then left-joins back nothing — conversations without tool calls get
    an explicit no_tools class via the left join from the conv list
    (reusing the adapter's conv Exchange)."""
    t = doc_transcripts(spark, sf_dir).withColumn("role", F.expr(_ROLE_EXPR))
    h = "cast(conv(substr(md5(text), {}, {}), 16, 10) as bigint)"
    calls = t.filter(F.col("role") == "tool").select(
        "conv_id",
        F.when(F.expr(h.format(13, 2)) % 4 == 0, 0).otherwise(1).alias("ok"),
    )
    per_conv = calls.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_tool_calls"),
        F.sum(F.expr("1 - ok")).cast("bigint").alias("n_failed"),
    )
    convs = t.select("conv_id").distinct()
    return convs.join(per_conv, "conv_id", "left").select(
        "conv_id",
        F.coalesce("n_tool_calls", F.lit(0)).cast("bigint").alias("n_tool_calls"),
        F.coalesce("n_failed", F.lit(0)).cast("bigint").alias("n_failed"),
        F.when(F.col("n_tool_calls").isNull(), "no_tools")
        .when(F.col("n_failed") == 0, "clean")
        .otherwise("has_failures")
        .alias("verdict"),
    )


def q_mergeable_variance_card(spark, sf_dir):
    """Mergeable-statistics card: per-shard (n, mean, M2) moments merged
    into the global mean/variance with Chan's pairwise update — the
    path an INCREMENTAL corpus card takes (each ingest ships one
    moments row; the card re-merges without rescanning history). The
    oracle computes the global moments directly in one pass, so a hash
    match proves the shard-merge algebra exact — not just approximately
    right.

    Scale shape: one partial-aggregated groupBy(shard) to 64 moment
    rows, then a driver-safe ordered fold over the tiny shard list
    (collect_list bounded by SHARD_COUNT) inside a single aggregate
    expression. Nothing wide ever moves."""
    from ocr_spark import params

    doc = _t(spark, sf_dir, "documents")
    hkey = F.expr(
        "cast(conv(substr(md5(cast(doc_id as string)), 1, 12), 16, 10) as bigint)"
    )
    shard_stats = (
        doc.select(
            (hkey % params.SHARD_COUNT).cast("int").alias("shard"),
            F.col("n_chars").cast("double").alias("x"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("double").alias("n"),
            F.avg("x").alias("mean"),
            # M2 = sum of squared deviations from the shard mean,
            # via var_pop (Spark's numerically-stable online moments) —
            # NOT sum(x*x) - n*mean^2, which cancels catastrophically
            # when mean^2 >> variance at corpus magnitudes
            F.expr("var_pop(x) * count(*)").alias("m2"),
        )
    )
    # Chan et al. pairwise merge, folded deterministically in shard order
    merged = shard_stats.agg(
        F.expr(
            "aggregate("
            " array_sort(collect_list(struct(shard, n, mean, m2)),"
            "  (l, r) -> case when l.shard < r.shard then -1"
            "            when l.shard > r.shard then 1 else 0 end),"
            " named_struct('n', cast(0.0 as double), 'mean', cast(0.0 as double),"
            "              'm2', cast(0.0 as double)),"
            " (acc, s) -> named_struct("
            "   'n', acc.n + s.n,"
            "   'mean', (acc.n * acc.mean + s.n * s.mean) / (acc.n + s.n),"
            "   'm2', acc.m2 + s.m2 + (s.mean - acc.mean) * (s.mean - acc.mean)"
            "         * acc.n * s.n / (acc.n + s.n)))"
        ).alias("g")
    )
    return merged.select(
        F.col("g.n").cast("bigint").alias("n_docs"),
        F.round("g.mean", 6).alias("mean_chars"),
        F.round(F.expr("g.m2 / g.n"), 6).alias("var_pop_chars"),
    )


def q_quality_novelty_calibration(spark, sf_dir):
    """Cross-signal calibration: does the cheap quality score agree with
    the (more expensive) novelty signal? Per quality decile —
    deterministic ntile over (quality, doc_id) — the doc count, mean
    novelty, and low-novelty (< 0.3) rate. A flat or inverted novelty
    curve across quality deciles means the quality gate is NOT a proxy
    for dedup-worthiness and both gates must run; a monotone curve
    licenses quality-first cheap filtering. Composes the two
    oracle-checked signals (functions.quality_score,
    curate.ngram_novelty).

    Scale shape: the novelty join is doc-keyed; the decile is one
    |docs|-row window (rank state only); the rollup is 10 rows."""
    from ocr_spark import curate
    from ocr_spark.functions import quality_score

    doc = _t(spark, sf_dir, "documents")
    q = doc.select("doc_id", quality_score("text").alias("quality"))
    nov = curate.ngram_novelty(doc.select("doc_id", "text")).select(
        "doc_id", "novelty"
    )
    joined = q.join(nov, "doc_id")
    w = Window.orderBy(F.col("quality").asc(), F.col("doc_id").asc())
    decile = joined.withColumn("decile", F.ntile(10).over(w))
    return decile.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.avg("novelty"), 6).alias("mean_novelty"),
        F.round(
            F.avg(F.expr("if(novelty < 0.3, cast(1.0 as double), cast(0.0 as double))")), 6
        ).alias("low_novelty_rate"),
    )


# ---------------------------------------------------------------------------
# Agent-trajectory hygiene & RL-rollout reductions (round 5)
# ---------------------------------------------------------------------------
# Registry adapters over the production functions in ocr_spark/rollouts.py:
# the sandbox documents table has no duplicate texts, reward column, or
# shared prompts, so template / prompt-group / reward / success are derived
# content-keyed here (the role_alternation_check convention) and the
# production code runs unchanged — the DuckDB oracle value-checks the exact
# DataFrame logic a real rollout table gets.

# content-keyed response-template id (the adapter stand-in for
# rollouts.default_template, which needs duplicate texts to bite)
_TMPL_EXPR = "cast(cast(conv(substr(md5(text), 1, 8), 16, 10) as bigint) % 4 as int)"

# content-keyed prompt group over the fingerprint rollup's first_text
_PROMPT_BUCKET_EXPR = (
    "cast(cast(conv(substr(md5(first_text), 1, 8), 16, 10) as bigint) % 4 as int)"
)

# deterministic hash-uniform reward in [0, 1) from the trajectory
# fingerprint (the adapter stand-in for a reward-model column)
_REWARD_EXPR = (
    "cast(conv(substr(completion_fp, 1, 8), 16, 10) as double) / 4294967296.0"
)


def _rollout_scored(spark, sf_dir):
    """Shared adapter prefix: fingerprint rollup -> (prompt_group,
    conv_id, reward) — the scored-rollouts shape rollouts.best_of_n /
    grpo_advantages consume."""
    from ocr_spark import rollouts

    fps = rollouts.rollout_fingerprints(doc_transcripts(spark, sf_dir))
    return fps.select(
        F.expr(_PROMPT_BUCKET_EXPR).alias("prompt_group"),
        "conv_id",
        F.expr(_REWARD_EXPR).alias("reward"),
        "completion_fp",
    )


def q_agent_loop_detector(spark, sf_dir):
    """Stuck-agent detector: flag conversations where consecutive turns
    repeat the same response template — the classic failure mode of an
    agent loop (retry storms, tool ping-pong, self-quoting) whose
    trajectories an SFT/RL pipeline must drop before training. Real
    tables use ``rollouts.default_template`` (digit/whitespace-collapsed
    response hash); the adapter derives the template content-keyed
    (md5(text) mod 4) so the detector has runs to find.

    Shape: see rollouts.loop_run_stats — one Exchange end-to-end."""
    from ocr_spark import rollouts

    return rollouts.loop_run_stats(
        doc_transcripts(spark, sf_dir), template=F.expr(_TMPL_EXPR)
    )


def q_prompt_rollout_dedup(spark, sf_dir):
    """Shared-prompt rollout dedup: RL / best-of-n sampling emits many
    trajectories per prompt; byte-identical completions within a prompt
    group carry zero extra signal — keep one per distinct completion.
    Production groups by the verbatim first-turn hash; the adapter
    buckets mod 4 so groups have multiple rollouts.

    Shape: see rollouts.dedup_rollout_groups — only 32-byte hashes move
    after the fingerprint rollup."""
    from ocr_spark import rollouts

    fps = rollouts.rollout_fingerprints(doc_transcripts(spark, sf_dir))
    return rollouts.dedup_rollout_groups(
        fps, group=F.expr(_PROMPT_BUCKET_EXPR)
    ).withColumnRenamed("prompt_group", "prompt_bucket")


def q_pass_at_k(spark, sf_dir):
    """pass@k over rollout groups — the unbiased estimator from the
    Codex paper (Chen et al. 2021, arXiv:2107.03374 §2.1) in exact
    falling-factorial form. The per-trajectory success bit is
    content-keyed (first hex nibble of the fingerprint < 8, an
    exact-rate-0.5 deterministic stand-in for a reward-model verdict);
    production wires the real grader column in. k = 4: groups with
    n < 4 report NULL, groups with fewer than 4 failures exactly 1.0.

    Shape: see rollouts.pass_at_k — one count/sum rollup, then pure
    per-group scalar arithmetic."""
    from ocr_spark import rollouts

    scored = _rollout_scored(spark, sf_dir).select(
        "prompt_group",
        (F.expr("cast(conv(substr(completion_fp, 1, 1), 16, 10) as int)") < 8)
        .cast("int")
        .alias("success"),
    )
    return rollouts.pass_at_k(scored, k=4).withColumnRenamed(
        "prompt_group", "prompt_bucket"
    )


def q_best_of_n_selection(spark, sf_dir):
    """Best-of-n trajectory selection: per prompt group, keep the
    highest-reward rollout — the reduction behind BoN distillation and
    rejection sampling — plus the selection gain over the group mean.
    Reward is the deterministic hash-uniform adapter stand-in.

    Shape: see rollouts.best_of_n — ONE group-partitioned window, no
    self-join."""
    from ocr_spark import rollouts

    return rollouts.best_of_n(
        _rollout_scored(spark, sf_dir).drop("completion_fp")
    ).withColumnRenamed("prompt_group", "prompt_bucket")


def q_grpo_advantages(spark, sf_dir):
    """Group-relative advantage normalization (GRPO, Shao et al. 2024,
    arXiv:2402.03300 §4.1): (reward - group mean) / group std with the
    zero-variance -> 0 convention. Reward is the deterministic
    hash-uniform adapter stand-in.

    Shape: see rollouts.grpo_advantages — ONE group-partitioned window,
    narrow normalization projection."""
    from ocr_spark import rollouts

    return rollouts.grpo_advantages(
        _rollout_scored(spark, sf_dir).drop("completion_fp")
    ).withColumnRenamed("prompt_group", "prompt_bucket")


def q_rollout_divergence_profile(spark, sf_dir):
    """Rollout divergence profile: per prompt group and turn depth, how
    many distinct trajectory branches are alive — the tree shape of a
    best-of-n sampler (shared prefixes merge; the profile shows WHERE
    rollouts fork, which prices prefix-KV-cache reuse). Template and
    group are content-keyed on the adapter table so prefixes genuinely
    collide; depth capped at 8.

    Shape: see rollouts.divergence_profile — conv-local prefix hashes,
    one (group, depth) distinct count, no joins."""
    from ocr_spark import rollouts

    return rollouts.divergence_profile(
        doc_transcripts(spark, sf_dir),
        template=F.expr(_TMPL_EXPR),
        group=F.expr(_PROMPT_BUCKET_EXPR),
        max_depth=8,
    ).withColumnRenamed("prompt_group", "prompt_bucket")


def q_dpo_pairs(spark, sf_dir):
    """DPO preference-pair mining from scored rollout groups: chosen =
    highest-reward, rejected = lowest-reward trajectory per prompt
    group, kept only when the reward gap clears the margin (0.6 here so
    the filter demonstrably fires on the adapter data: one of the four
    buckets falls below it). Complements reward_pairs (text-keyed
    lexicographic pairing) with the reward-margin semantics a real DPO
    data pipeline uses; production wires its reward-model column in.

    Shape: see rollouts.preference_pairs — one partial-aggregated
    groupBy with struct max/min, no window."""
    from ocr_spark import rollouts

    return rollouts.preference_pairs(
        _rollout_scored(spark, sf_dir).drop("completion_fp"), margin=0.6
    ).withColumnRenamed("prompt_group", "prompt_bucket")


def q_length_debiased_reward(spark, sf_dir):
    """Reward length-bias correction: OLS slope of reward on trajectory
    length over the corpus, then per-trajectory residuals — selection
    on the residual removes the verbosity incentive a raw reward model
    leaks into BoN/DPO/GRPO (reward here is the deterministic
    hash-uniform adapter stand-in; production wires its reward-model
    column in).

    Shape: see rollouts.length_debiased_reward — one 1-row stats
    aggregate broadcast back (the corpus-totals pattern)."""
    from ocr_spark import rollouts

    fps = rollouts.rollout_fingerprints(doc_transcripts(spark, sf_dir))
    scored = fps.select(
        "conv_id", "n_chars", F.expr(_REWARD_EXPR).alias("reward")
    )
    return rollouts.length_debiased_reward(scored)


# --------------------------------------------------------------------------
# Evaluation / label-aggregation family (ocr_spark.evaluation)
# --------------------------------------------------------------------------

# Content-keyed judge-label synthesis: a latent "true" class per doc
# (md5(text) % 3) and three judges that report it with ~75% fidelity
# (an md5(text|judge) coin flips the verdict to one of the other two
# classes 1/4 of the time) and ~14% missingness (a second coin drops
# the (item, judge) rating entirely — exercising Krippendorff's
# missing-tolerant pairing). Deterministic and engine-independent; a
# real judge table replaces this derivation and the evaluation.*
# functions consume it unchanged.
_JUDGES = ("j0", "j1", "j2")
_EVAL_CLASSES = ("good", "ok", "bad")


def _judge_labels(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("bigint").alias("item_id"), "text"
    )
    lab = d.select(
        "item_id",
        "text",
        F.explode(F.array(*[F.lit(j) for j in _JUDGES])).alias("judge_id"),
    )
    hj = (
        "cast(conv(substr(md5(concat(text, '|', judge_id)), {}, {}), 16, 10)"
        " as bigint)"
    )
    t_idx = F.expr("cast(conv(substr(md5(text), 1, 8), 16, 10) as bigint)") % 3
    flip = F.expr(hj.format(1, 8)) % 4 == 0
    alt = (t_idx + 1 + F.expr(hj.format(9, 4)) % 2) % 3
    idx = F.when(flip, alt).otherwise(t_idx)
    return (
        lab.filter(F.expr(hj.format(13, 4)) % 7 != 0)
        .select(
            "item_id",
            "judge_id",
            F.element_at(
                F.array(*[F.lit(c) for c in _EVAL_CLASSES]),
                (idx + 1).cast("int"),
            ).alias("label"),
        )
    )


def _model_battles(spark, sf_dir):
    """Content-keyed arena battles: per doc, two distinct models of 4
    (md5-picked) fight; the lexicographically smaller INDEX wins 3/4 of
    the time (a latent strength order the Bradley-Terry fit should
    recover). A real battles table replaces this derivation."""
    d = _t(spark, sf_dir, "documents")
    h = "cast(conv(substr(md5(text), {}, {}), 16, 10) as bigint)"
    a_idx = F.expr(h.format(1, 8)) % 4
    b_idx = (a_idx + 1 + F.expr(h.format(9, 8)) % 3) % 4
    upset = F.expr(h.format(17, 2)) % 4 == 0
    ma = F.concat(F.lit("model_"), a_idx.cast("string"))
    mb = F.concat(F.lit("model_"), b_idx.cast("string"))
    return d.select(
        F.col("doc_id").cast("bigint").alias("item_id"),
        ma.alias("model_a"),
        mb.alias("model_b"),
        F.when((a_idx < b_idx) != upset, ma).otherwise(mb).alias("winner"),
    )


def q_judge_majority_vote(spark, sf_dir):
    """Multi-judge plurality label per item with agreement diagnostics
    — the first reduction a judge-labelled eval set runs before
    training-data selection.

    Shape: see evaluation.majority_vote — two item-keyed
    partial-aggregated groupBys, min_by struct tiebreak, no window/join."""
    from ocr_spark import evaluation

    return evaluation.majority_vote(_judge_labels(spark, sf_dir))


def q_judge_kappa_pairs(spark, sf_dir):
    """Cohen's kappa for every unordered judge pair — the
    chance-corrected agreement audit run before trusting judge labels.

    Shape: see evaluation.cohen_kappa_pairs — one item-keyed self-join;
    marginals and pe are judgexlabel-sized broadcasts."""
    from ocr_spark import evaluation

    return evaluation.cohen_kappa_pairs(_judge_labels(spark, sf_dir))


def q_judge_alpha(spark, sf_dir):
    """Krippendorff's alpha (nominal) over all judges, tolerant of the
    ~14% missing ratings the adapter injects. Returns ONE corpus row.

    Shape: see evaluation.krippendorff_alpha — item-keyed rollups, then
    1-row totals crossJoined broadcast."""
    from ocr_spark import evaluation

    return evaluation.krippendorff_alpha(_judge_labels(spark, sf_dir))


def q_dawid_skene_labels(spark, sf_dir, rounds=None):
    """Dawid-Skene EM label inference (params.DS_ROUNDS rounds): noisy
    judges get per-judge confusion matrices; items get MAP labels from
    the posteriors. The DuckDB oracle unrolls the identical rounds
    (oracles._dawid_skene_sql) from the same params constant.

    Shape: see evaluation.dawid_skene — judgesxclasses^2 state collected
    per round and re-broadcast (the k-means centroid-loop pattern); the
    labels table is touched once per round by item-keyed rollups."""
    from ocr_spark import evaluation

    return evaluation.dawid_skene(_judge_labels(spark, sf_dir), rounds=rounds)


def q_arena_win_matrix(spark, sf_dir):
    """Pairwise win-rate matrix over canonicalized model pairs — the
    raw arena scoreboard.

    Shape: see evaluation.pairwise_winrate — one narrow projection +
    one partial-aggregated groupBy, model^2-sized output."""
    from ocr_spark import evaluation

    return evaluation.pairwise_winrate(_model_battles(spark, sf_dir))


def q_bradley_terry_strengths(spark, sf_dir, rounds=None):
    """Bradley-Terry strength fit (Hunter's MM, params.BT_ROUNDS
    rounds) over the arena battles; recovers the adapter's latent
    strength order model_0 > ... > model_3. Oracle unrolls the same MM
    rounds in SQL from the same constant.

    Shape: see evaluation.bradley_terry — battles reduce ONCE to
    model^2 cells; the MM loop runs driver-side on that tiny state."""
    from ocr_spark import evaluation

    return evaluation.bradley_terry(_model_battles(spark, sf_dir), rounds=rounds)


def q_judge_consensus_confusion(spark, sf_dir):
    """Per-judge confusion matrix vs the majority-vote consensus — the
    judge-quality audit before weighting/dropping judges (the adapter's
    1/4-flip judges should show ~diagonal-heavy cells).

    Shape: see evaluation.consensus_confusion — majority vote's rollups,
    one item-keyed join back, one judge x classes^2 cell aggregate."""
    from ocr_spark import evaluation

    return evaluation.consensus_confusion(_judge_labels(spark, sf_dir))


# --------------------------------------------------------------------------
# Prefix-cache / turn-novelty family (round 5): serving-time KV-prefix reuse
# accounting and turn-granular loss masking over rollout-shaped transcripts.
# The documents-as-transcripts adapter has no shared turns at sf0.01, so the
# adapters rewrite the first PREFIX_TURNS turns of each conversation to its
# prompt-bucket's canonical turns (content-keyed, deterministic, mirrored in
# the DuckDB oracles) — giving every bucket a genuinely shared prefix the
# way best-of-n rollouts of one prompt share theirs in production.
# --------------------------------------------------------------------------

_SHARED_PREFIX_TURNS = 3

# bucket = md5(conv_id) 32-bit head mod 4 (the conv-keyed analog of
# _PROMPT_BUCKET_EXPR, computable before any rollup)
_CONV_BUCKET_EXPR = (
    "cast(cast(conv(substr(md5(conv_id), 1, 8), 16, 10) as bigint) % 4 as string)"
)

_SHARED_PREFIX_TEXT_EXPR = (
    f"CASE WHEN turn_idx < {_SHARED_PREFIX_TURNS} THEN "
    f"concat('prompt-', {_CONV_BUCKET_EXPR}, '-turn-', "
    "cast(turn_idx as string), '-', repeat('seed ', 40)) ELSE text END"
)


def _prompt_grouped_transcripts(spark, sf_dir):
    """Shared adapter prefix for the prefix-cache family: transcripts
    whose first _SHARED_PREFIX_TURNS turns are their prompt bucket's
    canonical turns (identical across the bucket's conversations)."""
    return doc_transcripts(spark, sf_dir).withColumn(
        "text", F.expr(_SHARED_PREFIX_TEXT_EXPR)
    )


def q_prefix_cache_savings(spark, sf_dir):
    """KV-prefix-cache savings per prompt group: sampling n rollouts
    from one prompt re-prefills the shared prefix n times without a
    cache; with one, (n-1) * LCP characters are computed once and
    reused. Grouping uses the production default — md5 of the verbatim
    first turn, the key a serving stack's prefix cache actually uses.

    Shape: see rollouts.prefix_cache_savings — conv-keyed fingerprint
    rollup, then ONE group-keyed partial-aggregated groupBy where only
    the lexicographic min/max trajectory survive the shuffle (set-LCP ==
    LCP of the extremes); the O(L) two-level block-compare LCP fold runs
    on group-count rows only."""
    from ocr_spark import rollouts

    return rollouts.prefix_cache_savings(_prompt_grouped_transcripts(spark, sf_dir))


def q_prefix_trie_profile(spark, sf_dir):
    """Per-depth conversation prefix-trie profile: distinct turn-prefix
    nodes vs conversations passing through them; n_convs - n_nodes at a
    depth is exactly the turn-granular KV-cache-hit mass branching
    rollouts / retried agent runs expose.

    Shape: see rollouts.turn_prefix_trie_profile — per-turn md5 first
    (32 bytes/turn), conv-keyed cumulative window folds hashes into node
    ids (state is depth x 33 bytes, never text), then node-keyed and
    depth-sized partial-aggregated groupBys."""
    from ocr_spark import rollouts

    return rollouts.turn_prefix_trie_profile(_prompt_grouped_transcripts(spark, sf_dir))


def q_turn_novelty_mask(spark, sf_dir):
    """Corpus-wide turn-level loss mask: each turn flagged novel (first
    occurrence of its normalized text anywhere, by (conv_id, turn_idx))
    or repeated — canned apologies / templated headers / retried
    identical responses survive conversation-level dedup but must not
    dominate an SFT gradient.

    Shape: see transcript_prep.turn_novelty_mask — the only shuffle is
    on the 32-byte turn hash; ordering happens INSIDE each tiny
    duplicate group, no global sort."""
    from ocr_spark import transcript_prep

    return transcript_prep.turn_novelty_mask(_prompt_grouped_transcripts(spark, sf_dir))


# answer-class extraction for the self-consistency adapter: the final
# turn's text hashed into 3 classes (the adapter stand-in for an
# extracted numeric/string final answer)
_ANSWER_EXPR = (
    "concat('ans_', cast(cast(conv(substr(md5(last_text), 1, 8), 16, 10)"
    " as bigint) % 3 as string))"
)


def q_self_consistency_vote(spark, sf_dir):
    """Self-consistency vote (Wang et al. 2022): per prompt group, the
    plurality final answer across sampled rollouts, its vote fraction,
    and the vote-distribution entropy — the reward-free answer selector
    and the dispersion signal filtering pipelines threshold on.
    Production extracts the real final answer; the adapter derives a
    3-class answer content-keyed from each rollout's last turn and
    groups prompts mod 4 so votes have pluralities to find.

    Shape: see rollouts.self_consistency — (group, answer) vote counts
    then ONE group rollup whose plurality pick is a single
    min(struct(-votes, answer)): no per-answer window, no self-join;
    the conv rollup reuses the adapter's conv-keyed Exchange."""
    from ocr_spark import rollouts

    per_conv = doc_transcripts(spark, sf_dir).groupBy("conv_id").agg(
        F.expr("min_by(text, turn_idx)").alias("first_text"),
        F.expr("max_by(text, turn_idx)").alias("last_text"),
    )
    answers = per_conv.select(
        F.expr(_PROMPT_BUCKET_EXPR).alias("prompt_group"),
        F.expr(_ANSWER_EXPR).alias("answer"),
    )
    return rollouts.self_consistency(answers)


def q_context_budget_audit(spark, sf_dir):
    """Context-window capacity card: for each budget in the
    ladder (production: params.CTX_BUDGETS 2k-128k; the adapter passes
    params.CTX_BUDGETS_ADAPTER, which straddles the sf0.01 conv-token
    distribution so every branch value-checks), conversations exceeding it, the fraction, and
    what head-anchored truncation costs (turns dropped from the tail,
    tokens kept) — the sizing pass run before choosing
    max-sequence-length / truncation policy. The DuckDB oracle is
    generated from the SAME params tuple, so the two cannot diverge.

    Shape: see transcript_prep.context_budget_audit — one conv-keyed
    cumulative window (reusing the adapter's Exchange), per-budget
    conditional sums as plan-time literals (no budget x turn row
    explosion), a 1-row global aggregate stacked to |budgets| rows."""
    from ocr_spark import params, transcript_prep

    return transcript_prep.context_budget_audit(
        doc_transcripts(spark, sf_dir), budgets=params.CTX_BUDGETS_ADAPTER
    )


def q_turn_novelty_incremental(spark, sf_dir):
    """Ingest-time turn-novelty gate — the incremental twin of
    q_turn_novelty_mask (continuous SFT ingestion: the frozen corpus's
    turn-hash set is already materialized; the incoming batch gets
    novel / seen_in_corpus flags). Split: doc_id % 10 == 0 is the
    incoming batch, the rest the frozen corpus; both sides get the
    shared-prefix rewrite, so batch prompt turns hit the corpus, batch
    siblings repeat each other, and tails stay novel — every branch
    value-checks.

    The batch side additionally rewrites turn 3 to a constant
    batch-only text (shared by every batch conversation, absent from
    the corpus), so the third branch — a batch-internal repeat the
    corpus has never seen — fires too.

    Shape: see transcript_prep.turn_novelty_vs_corpus — corpus reduces
    ONCE to distinct 32-byte hashes, batch left-joins on the hash key,
    within-batch first-occurrence is hash-keyed; never batch x corpus."""
    from ocr_spark import transcript_prep

    doc = _t(spark, sf_dir, "documents").select("source", "doc_id", "text")

    def as_transcripts(df):
        ren = df.select(F.col("source").alias("conv_id"), "doc_id", "text")
        w = Window.partitionBy("conv_id").orderBy("doc_id")
        return ren.select(
            "conv_id",
            (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
            "text",
        ).withColumn("text", F.expr(_SHARED_PREFIX_TEXT_EXPR))

    batch = as_transcripts(doc.filter("doc_id % 10 = 0")).withColumn(
        "text",
        F.when(F.col("turn_idx") == 3, F.lit("batch-extra-turn")).otherwise(
            F.col("text")
        ),
    )
    return transcript_prep.turn_novelty_vs_corpus(
        batch, as_transcripts(doc.filter("doc_id % 10 != 0"))
    )


def _doc_message_forest(spark, sf_dir):
    """Adapter: a deterministic branching message forest from the
    documents table — one tree per source, docs as messages in doc_id
    order, parent of the p-th message (p>0) = the (p-1)//2-th (heap
    layout: binary branching, depth log2(n) — every conversation has
    real forks and multi-level chains). ``msg_id`` is the globally
    unique doc_id; position 0 is the root (parent_id NULL). Production
    reads (msg_id, parent_id) straight off the message store."""
    doc = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("conv_id").orderBy("doc_id")
    pos = doc.select(
        F.col("source").alias("conv_id"), "doc_id"
    ).select(
        "conv_id", "doc_id", (F.row_number().over(w) - 1).cast("bigint").alias("pos")
    )
    parents = pos.select(
        "conv_id",
        F.col("pos").alias("parent_pos"),
        F.col("doc_id").alias("parent_id"),
    )
    children = pos.withColumn(
        "parent_pos",
        F.when(F.col("pos") == 0, F.lit(None).cast("bigint")).otherwise(
            F.floor((F.col("pos") - 1) / 2).cast("bigint")
        ),
    )
    return children.join(parents, ["conv_id", "parent_pos"], "left").select(
        F.col("doc_id").alias("msg_id"), "parent_id"
    )


def q_trace_tree_paths(spark, sf_dir):
    """Branching-trace thread resolution: chat/agent stores with
    regeneration and forking persist conversations as message TREES
    ((msg_id, parent_id) rows), and every extraction or rollout pass
    first needs each message resolved to its root conversation and
    depth. The DuckDB oracle is a recursive CTE — an INDEPENDENT
    algorithm (top-down BFS from the roots) cross-checking the Spark
    side's bottom-up pointer doubling.

    Shape: see rollouts.resolve_message_forest — O(log depth)
    rounds, each ONE hash self-equi-join on the 8-byte pointer key with
    localCheckpoint lineage truncation; hot roots are join fan-out,
    never a materialized neighbor list."""
    from ocr_spark import rollouts

    return rollouts.resolve_message_forest(_doc_message_forest(spark, sf_dir))


def q_trace_branch_stats(spark, sf_dir):
    """Fork-rate audit per conversation tree: message count, leaf count
    (= distinct linear threads the tree linearizes into — the thread
    explosion a regeneration-heavy store must budget before flattening)
    and max depth. Shape: see rollouts.branch_stats — leaf-ness is a
    left-anti hash join against the distinct parent set, then one
    partial-aggregated groupBy(root_id)."""
    from ocr_spark import rollouts

    msgs = _doc_message_forest(spark, sf_dir)
    return rollouts.branch_stats(msgs, rollouts.resolve_message_forest(msgs))


def q_tool_arg_schema_drift(spark, sf_dir):
    """Tool-payload schema-evolution audit: per (tool, argument key),
    call counts, the key's share of the tool's calls, and the
    first/last observation day — run over stored agent tool payloads
    before writing parsers against them (keys roll in and out with
    tool versions; a parser pinned to last month's schema silently
    drops the new field). The adapter synthesizes payloads
    content-keyed from tool turns — args carry an always-on key, two
    optional keys at different rates, and one key that EXISTS ONLY
    from day 14 on (real drift for first_day to catch); production
    passes the stored payload column and date_trunc('day', ts).

    Shape: see transcript_prep.tool_arg_schema_drift — JVM-side
    get_json_object + json_object_keys (no Python), row-local explode,
    two partial-aggregated groupBys, |tools|-row totals broadcast back.
    Only (name, key, day) triples ever shuffle."""
    from ocr_spark import transcript_prep

    return transcript_prep.tool_arg_schema_drift(
        _tool_payload_calls(spark, sf_dir)
    )


def _tool_payload_calls(spark, sf_dir, with_legacy: bool = False):
    """Shared adapter for the tool-schema family: content-keyed
    synthetic payloads over tool turns — an always-on key, two
    optional keys at different rates, a ``page`` key that exists only
    from day 14 on, and (``with_legacy``) a ``legacy`` key that exists
    only BEFORE day 14. Mirrored term-for-term by the oracle-side
    ``_tool_parsed_cte`` in oracles.py — change them together."""
    t = doc_transcripts(spark, sf_dir).withColumn("role", F.expr(_ROLE_EXPR))
    h = "cast(conv(substr(md5(text), {}, {}), 16, 10) as bigint)"
    day = (F.expr(h.format(17, 3)) % 28).cast("int")
    parts = [
        F.lit('{"name":"tool_'),
        (F.expr(h.format(9, 4)) % 4).cast("string"),
        F.lit('","args":{"q":1'),
        F.when(F.expr(h.format(13, 2)) % 2 == 0, F.lit(',"k":2')).otherwise(
            F.lit("")
        ),
        F.when(
            F.expr(h.format(15, 2)) % 3 == 0, F.lit(',"filters":"f"')
        ).otherwise(F.lit("")),
        F.when(day >= 14, F.lit(',"page":3')).otherwise(F.lit("")),
    ]
    if with_legacy:
        parts.append(
            F.when(day < 14, F.lit(',"legacy":0')).otherwise(F.lit(""))
        )
    parts.append(F.lit("}}"))
    return t.filter(F.col("role") == "tool").select(
        F.concat(*parts).alias("tool"), day.alias("day")
    )


def q_thread_linearize(spark, sf_dir):
    """Thread linearization: every root-to-leaf path of the branching
    message forest materialized as a flat (thread_id, seq, msg_id)
    transcript — the transform that feeds a fork-capable store into the
    (conv_id, turn_idx) pipeline (seq is the new turn_idx). The DuckDB
    oracle is again an independent algorithm: it climbs leaf-to-root
    with a recursive CTE and recovers root-first seq from each thread's
    max climb distance — no arrays — while Spark accumulates id paths
    inside the O(log depth) doubling loop.

    Shape: see rollouts.linearize_threads — the resolve loop plus an
    array accumulate; output rows = total linearized turns."""
    from ocr_spark import rollouts

    return rollouts.linearize_threads(_doc_message_forest(spark, sf_dir))


def q_forest_validation(spark, sf_dir):
    """Closed-forest validation (the f5-style gate before
    resolve_message_forest / linearize_threads on a store you don't
    control): flag duplicate msg_ids, self-parents (1-cycles), and
    orphan parent references as (msg_id, issue) rows for quarantine.
    The adapter corrupts the heap forest deterministically —
    doc_id%101 in {0,1} pairs become reciprocal parents (2-cycles),
    doc_id%97==0 becomes a self-parent, doc_id%89==0 points at a
    non-existent parent, doc_id%83==0 is duplicated — so every issue
    class fires and value-checks at sf0.01.

    Shape: see rollouts.validate_forest — one partial-aggregated
    groupBy, a row-local predicate, one left-anti hash join; only
    8-byte ids and issue tags move."""
    from ocr_spark import rollouts

    msgs = _doc_message_forest(spark, sf_dir)
    corrupted = msgs.select(
        "msg_id",
        F.when(F.col("msg_id") % 101 == 0, F.col("msg_id") + 1)
        .when(F.col("msg_id") % 101 == 1, F.col("msg_id") - 1)
        .when(F.col("msg_id") % 97 == 0, F.col("msg_id"))
        .when(F.col("msg_id") % 89 == 0, F.col("msg_id") + F.lit(1000000000))
        .otherwise(F.col("parent_id"))
        .alias("parent_id"),
    )
    corrupted = corrupted.unionByName(corrupted.filter(F.col("msg_id") % 83 == 0))
    return rollouts.validate_forest(corrupted)


def q_forest_resolve_incremental(spark, sf_dir):
    """Ingest-time forest resolution: new messages (msg_id % 7 == 0
    plays the incoming regeneration batch) resolve against the frozen
    corpus's materialized (msg_id, root_id, depth) table — parent
    already resolved => inherit (root, depth+1) via one hash join;
    parent inside the batch => batch-local doubling rounds only. The
    DuckDB oracle walks the WHOLE forest top-down with the recursive
    CTE and restricts to batch rows, so a hash match proves the
    incremental path equals full re-resolution.

    Shape: see rollouts.resolve_messages_incremental — one join
    against the resolved table + O(log batch-depth) rounds; the
    adapter's heap layout guarantees both init branches fire (batch
    messages with resolved parents AND with batch-internal parents)."""
    from ocr_spark import rollouts

    msgs = _doc_message_forest(spark, sf_dir)
    batch = msgs.filter(F.col("msg_id") % 7 == 0)
    resolved_all = rollouts.resolve_message_forest(msgs)
    frozen = resolved_all.join(
        batch.select("msg_id"), "msg_id", "left_anti"
    )
    return rollouts.resolve_messages_incremental(batch, frozen)


def q_watermark_lateness(spark, sf_dir):
    """Watermark sizing audit for the streaming family: how out-of-order
    does each event stream actually arrive? Arrival time = event time +
    transport delay (adapter: content-keyed 0-3600 s delay from
    md5(event_id); production uses the broker's ingest timestamp);
    lateness = running max of event time over arrival order minus the
    event's own time — exactly the disorder ``withWatermark`` must
    absorb (events later than the watermark get dropped). Emits per
    event_type the lateness percentiles, max, and the fraction a
    30-minute watermark (streaming/incremental.py's default) would
    drop — the number that justifies or overturns that default.

    Shape: one type-keyed window (arrival-ordered running max on
    integer epoch seconds) + one partial-aggregated groupBy — a single
    Exchange on event_type. A hot type at 10^12 events upgrades to the
    bucket-cumulative two-phase form (per arrival-minute maxima, tiny
    sequential scan over bucket maxima) with identical semantics, same
    note as the conv-keyed cumulative windows."""
    ev = _t(spark, sf_dir, "events")
    # unix_timestamp already returns truncated bigint seconds (the
    # oracle's floor(epoch(ts)) is needed there because epoch() keeps
    # the fraction)
    sec = F.unix_timestamp(F.col("ts"))
    delay = F.expr(
        "cast(conv(substr(md5(cast(event_id as string)), 1, 4), 16, 10) as bigint) % 3600"
    )
    base = ev.select(
        "event_type",
        "event_id",
        sec.alias("t"),
        (sec + delay).alias("arrival"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("arrival", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = base.select(
        "event_type",
        F.greatest(F.lit(0), F.max("t").over(w) - F.col("t")).alias("late_s"),
    )
    return late.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.expr("percentile(late_s, 0.5D)"), 4).alias("p50_late_s"),
        F.round(F.expr("percentile(late_s, 0.95D)"), 4).alias("p95_late_s"),
        F.round(F.expr("percentile(late_s, 0.99D)"), 4).alias("p99_late_s"),
        F.max("late_s").cast("bigint").alias("max_late_s"),
        F.round(F.avg((F.col("late_s") > 1800).cast("double")), 6).alias(
            "frac_dropped_at_30m"
        ),
    )


def q_tool_schema_diff(spark, sf_dir):
    """Era-over-era tool schema alert: split the payload stream at day
    14 and classify every (tool, arg key) as added / removed / kept
    with its per-era call share — the diff a pipeline fires on when a
    tool version rolls out. The adapter extends the schema-drift
    payload synthesis (see q_tool_arg_schema_drift) with a ``legacy``
    key that EXISTS ONLY before day 14, so all three status branches
    fire: page is added, legacy is removed, q/k/filters are kept.

    Shape: see transcript_prep.tool_schema_diff — two era-filtered
    drift passes full-outer hash-joined on the tiny (tool, key) cell
    key; the join never sees call volume."""
    from ocr_spark import transcript_prep

    return transcript_prep.tool_schema_diff(
        _tool_payload_calls(spark, sf_dir, with_legacy=True)
    )
