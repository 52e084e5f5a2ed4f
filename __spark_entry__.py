"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` smoke-runs the REAL extraction engine (spans built from the
sf0.001 documents table → mapInArrow extraction → per-method stats).

`queries()` exposes the engine's operator surface over the driver tables at
`sf_dir`; every SQL-expressible operator has a DuckDB twin in `oracle_sql()`
with IDENTICAL column names and rounding so the value-hash compare is exact.
Non-SQL-expressible ops (the extraction pipeline itself, MinHash/SimHash/LSH)
are present without oracle entries → driver records rows-only checks.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spanify(docs: DataFrame) -> DataFrame:
    """Lift the flat driver documents table into the engine's span shape,
    deterministically fanning docs across the format routes (doc_id mod 5)
    so the flagship exercises every extraction path: plain text, markdown,
    HTML, sheet, paged."""

    def span(kind, text, media_ref, offset):
        return F.struct(
            kind.alias("kind"),
            text.alias("text"),
            media_ref.alias("media_ref"),
            offset.cast("int").alias("offset"),
        )

    route = F.col("doc_id") % 5
    txt = F.col("text")
    empty = F.lit("")
    spans = (
        F.when(
            route == 1,  # markdown: heading sniffed from '# ' prefix
            F.array(span(F.lit("text"), F.concat(F.lit("# "), txt), empty, F.lit(0))),
        )
        .when(
            route == 2,  # html: boilerplate-wrapped paragraph
            F.array(
                span(
                    F.lit("html"),
                    F.concat(
                        F.lit('<nav><a href="/">home</a></nav><p>'),
                        txt,
                        F.lit("</p><footer>c</footer>"),
                    ),
                    empty,
                    F.lit(0),
                )
            ),
        )
        .when(
            route == 3,  # sheet: two table rows from text fragments
            F.array(
                span(F.lit("table_row"),
                     F.concat_ws("\x1f", F.substring(txt, 1, 20),
                                 F.col("lang"), F.col("source")),
                     empty, F.lit(0)),
                span(F.lit("table_row"),
                     F.concat_ws("\x1f", F.substring(txt, 21, 20),
                                 F.col("n_chars").cast("string")),
                     empty, F.lit(1)),
            ),
        )
        .when(
            route == 4,  # paged: two pages split mid-text
            F.array(
                span(F.lit("text"), F.substring(txt, 1, 40), empty, F.lit(0)),
                span(F.lit("page_break"), empty, empty, F.lit(1)),
                span(F.lit("text"), F.substring(txt, 41, 10_000), empty, F.lit(2)),
            ),
        )
        .otherwise(F.array(span(F.lit("text"), txt, empty, F.lit(0))))
    )
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                       spans.alias("spans"))


# ---------------------------------------------------------------------------
# entry — flagship smoke: the real engine end-to-end at sf0.001
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    from ocr_toolkit_spark.operators.extract import extract_spans

    docs = _docs(spark, "/root/testdata/sf0.001")
    extracted = extract_spans(_spanify(docs))
    return (
        extracted.groupBy("method")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.col("success").cast("int")).alias("succeeded"),
            F.sum("n_spans").alias("spans"),
            F.sum("n_chars").alias("chars"),
        )
        .orderBy("method")
    )


# ---------------------------------------------------------------------------
# queries — one entry per operator family (SURVEY.md §2)
# ---------------------------------------------------------------------------


def q_dispatch_case(spark, sf_dir):
    """D1 format dispatch as a CASE route (cli/convert.py:380-445)."""
    d = _docs(spark, sf_dir)
    route = (
        F.when(F.col("text").startswith("# "), F.lit("markdown"))
        .when(F.col("n_chars") > 400, F.lit("long_text"))
        .otherwise(F.lit("text"))
    )
    return d.groupBy(route.alias("route")).agg(F.count("*").alias("n_docs"))


def q_stats_by_lang(spark, sf_dir):
    """A1 stats accumulator as groupBy agg (stats.py:28-85)."""
    d = _docs(spark, sf_dir)
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        _r4(F.sum("n_chars") / F.count("*")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def q_quality_scores(spark, sf_dir):
    """T10 quality formula (quality_evaluator.py:46-126), repeat-penalty term
    omitted (Java-regex backreference; RE2/DuckDB cannot express it — the
    full formula is pytest-verified against the oracle instead)."""
    from ocr_toolkit_spark.operators.skew import spread
    from ocr_toolkit_spark.operators.textstats import with_quality

    # spread (r7): the scoring is a pure projection — with a single-row-
    # group input every regex pass ran on ONE task; per-row values are
    # partition-independent, so the output is unchanged.
    d = with_quality(spread(_docs(spark, sf_dir)), "text",
                     include_repeat_penalty=False)
    return d.select(
        "doc_id",
        _r4(F.col("length_score")).alias("length_score"),
        _r4(F.col("structure_score")).alias("structure_score"),
        _r4(F.col("diversity_score")).alias("diversity_score"),
        _r4(F.col("error_penalty")).alias("error_penalty"),
        _r4(F.col("total_score")).alias("total_score"),
    )


def q_method_selection(spark, sf_dir):
    """T11 weighted method choice (quality_evaluator.py:196-231)."""
    from ocr_toolkit_spark.operators.textstats import method_selection

    d = _docs(spark, sf_dir)
    pref_md = F.when(F.col("source").isin("src0", "src1"), 1.3).otherwise(1.0)
    pref_ocr = F.when(F.col("lang") == "zh", 1.5).otherwise(1.1)
    md_score = F.length("text") * pref_md
    ocr_score = F.col("n_chars") * pref_ocr
    return d.groupBy(
        method_selection(md_score, ocr_score).alias("chosen_method")
    ).agg(F.count("*").alias("n_docs"))


def q_method_selection_full(spark, sf_dir):
    """T11 complete (quality_evaluator.py:145-233): preference tables as
    data, availability short-circuit, selection_reason. Deterministic
    two-method scenario built from the documents table: markitdown content
    = text (null every 13th doc, failed every 11th), ocr content = the
    first half of the text (failed every 7th); file ext cycles through the
    preference-table entries."""
    from ocr_toolkit_spark.operators.textstats import with_compare_methods

    d = _docs(spark, sf_dir)
    five = F.col("doc_id") % 5
    ext = (
        F.when(five == 0, ".docx").when(five == 1, ".pdf")
        .when(five == 2, ".jpg").when(five == 3, ".html")
        .otherwise(".txt")
    )
    md_success = (F.col("doc_id") % 11) != 3
    md_content = F.when((F.col("doc_id") % 13) == 5, F.lit(None)).otherwise(
        F.col("text")
    )
    ocr_success = (F.col("doc_id") % 7) != 2
    ocr_content = F.expr("left(text, CAST(floor(n_chars/2) AS INT))")
    scored = with_compare_methods(
        d, md_success, md_content, ocr_success, ocr_content, ext,
        include_repeat_penalty=False,  # RE2/DuckDB twin limitation, as T10
    )
    return scored.select(
        "doc_id",
        "chosen_method",
        "selection_reason",
        "markitdown_score",
        "ocr_score",
        "markitdown_available",
        "ocr_available",
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (operators/sessions.py): lag + running-sum
    windows on one user_id shuffle, then per-user session stats."""
    from ocr_toolkit_spark.operators.sessions import sessionize

    sessions = sessionize(_t(spark, sf_dir, "events"), gap_minutes=30)
    return sessions.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("total_events"),
        F.max("n_events").cast("long").alias("max_session_events"),
        F.max("duration_secs").cast("long").alias("max_duration_secs"),
    )


def q_event_windows(spark, sf_dir):
    """Tumbling event-time windows in batch
    (streaming/stream_stats.windowed_event_counts)."""
    from ocr_toolkit_spark.streaming.stream_stats import windowed_event_counts

    ev = _t(spark, sf_dir, "events").filter(F.col("ts") < "2024-01-04")
    out = windowed_event_counts(ev)
    return out.groupBy("window_start", "window_end").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        (F.floor(F.sum("total_value") * 1000 + F.lit(0.5)) / 1000.0)
        .alias("total_value"),
    )


def q_stopword_quality(spark, sf_dir):
    """Stopword-ratio quality signal per (lang, natural-text verdict):
    the training-data filter decision (prose vs gibberish) aggregated so
    the oracle twin stays order-free."""
    from ocr_toolkit_spark.operators.textstats import stopword_ratio

    d = _docs(spark, sf_dir)
    r = _r4(stopword_ratio(F.col("text")))
    return (
        d.select("lang", r.alias("sw"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            _r4(F.avg("sw")).alias("avg_stopword_ratio"),
            F.sum((F.col("sw") >= 0.15).cast("long")).alias("prose_docs"),
        )
    )


def q_near_dup_components(spark, sf_dir):
    """Connected components over EXACT shingle-Jaccard pairs (≥ 0.6, docs
    with doc_id < 500 so the oracle's transitive closure stays bounded):
    the iterative hash-min label propagation of operators/cc.py, checked
    against a DuckDB recursive-CTE closure."""
    from ocr_toolkit_spark.operators.cc import connected_components
    from ocr_toolkit_spark.operators.dedup import shingle_frame
    from ocr_toolkit_spark.operators.skew import materialize, spread

    # spread (r7): the all-pairs nested-loop join streams the scan side —
    # one task on a single-row-group input; shingle sets are per-doc
    # deterministic, so pairs are unchanged.
    d = spread(_docs(spark, sf_dir).filter(F.col("doc_id") < 500))
    # materialized: the all-pairs join references sh twice (a/b sides)
    sh = materialize(shingle_frame(d, "doc_id", "text", 5))
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    pairs = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .withColumn(
            # |A∪B| = |A|+|B|-|A∩B|: exact for distinct shingle sets, so
            # j is bit-identical while the per-pair union-array
            # allocation is gone (r7; jaccard_verify precedent)
            "j",
            inter / (F.size("a.sh") + F.size("b.sh") - inter),
        )
        .filter(F.col("j") >= 0.6)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    return connected_components(pairs).select(
        F.col("node").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    )


def q_topk_docs(spark, sf_dir):
    """Top-k (orderBy+limit) — the slowest-docs report analog."""
    return (
        _docs(spark, sf_dir)
        .orderBy(F.desc("n_chars"), F.asc("doc_id"))
        .select("doc_id", "n_chars")
        .limit(10)
    )


def q_anti_join(spark, sf_dir):
    """E5 resume anti-join shape: customers with no orders, per nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    no_orders = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    return (
        no_orders.join(F.broadcast(n), no_orders.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers_without_orders"))
    )


def q_exact_dedup(spark, sf_dir):
    from ocr_toolkit_spark.operators.dedup import exact_dedup_stats

    return exact_dedup_stats(_docs(spark, sf_dir), "text")


def q_normalized_dedup(spark, sf_dir):
    from ocr_toolkit_spark.operators.dedup import normalize_text

    d = _docs(spark, sf_dir)
    groups = d.groupBy(normalize_text(F.col("text")).alias("norm")).agg(
        F.count("*").alias("c")
    )
    return groups.agg(
        F.count("*").alias("n_groups"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(
            "docs_in_dup_groups"
        ),
    )


def q_token_stats(spark, sf_dir):
    from ocr_toolkit_spark.operators.skew import spread
    from ocr_toolkit_spark.operators.textstats import token_count

    # spread (r7): the token regex ran map-side in a one-task scan stage;
    # integer sums are exact, so the aggregation is partition-independent.
    d = spread(_docs(spark, sf_dir)).withColumn(
        "tokens", token_count(F.col("text")))
    return d.groupBy("lang").agg(
        F.sum("tokens").alias("total_tokens"),
        _r4(F.sum("tokens") / F.count("*")).alias("avg_tokens"),
    )


def q_bpe_tokens(spark, sf_dir):
    """BPE-ish pretoken counting (GPT-2-style pretokenizer shape) — the
    training-data token estimator."""
    from ocr_toolkit_spark.operators.textstats import bpe_pretoken_count

    d = _docs(spark, sf_dir).withColumn("bpe", bpe_pretoken_count(F.col("text")))
    return d.groupBy("source").agg(
        F.sum("bpe").alias("total_pretokens"),
        _r4(F.sum("bpe") / F.count("*")).alias("avg_pretokens"),
    )


def q_grouping_sets(spark, sf_dir):
    """GROUPING SETS aggregation over orders."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


def q_corpus_qa(spark, sf_dir):
    """Corpus QA: exact vs approximate distinct (HLL estimates differ across
    engines → rows-only; the sanity bound is asserted in-query)."""
    d = _docs(spark, sf_dir)
    r = d.agg(
        F.countDistinct("text").alias("exact_distinct"),
        F.approx_count_distinct("text", 0.02).alias("approx_distinct"),
    )
    return r.withColumn(
        "within_5pct",
        (F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
         / F.col("exact_distinct")) <= 0.05,
    )


def q_lang_id(spark, sf_dir):
    from ocr_toolkit_spark.operators.textstats import lang_id

    d = _docs(spark, sf_dir).withColumn("pred_lang", lang_id(F.col("text")))
    return d.groupBy("lang", "pred_lang").agg(F.count("*").alias("n_docs"))


def q_fingerprint(spark, sf_dir):
    from ocr_toolkit_spark.operators.textstats import fingerprint

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 20)
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


def q_shingle_stats(spark, sf_dir):
    from ocr_toolkit_spark.operators.dedup import shingle_frame

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 20)
    return shingle_frame(d, "doc_id", "text", 3).select(
        F.col("id").alias("doc_id"), F.size("sh").alias("n_shingles")
    )


def q_similarity_bruteforce(spark, sf_dir):
    from ocr_toolkit_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=3)


def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary — hash agg, partial+final (public spec).
    Decimal accumulation so the sums are order-independent and exactly
    comparable with DuckDB."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")
    # Spark's decimal→double is correctly rounded (BigDecimal.doubleValue);
    # DuckDB's direct CAST(decimal AS DOUBLE) is off by 1 ulp at sf0.1
    # magnitudes, so the twin routes through VARCHAR (exact digits) and a
    # correctly-rounded string→double parse — identical bits at any SF.
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum((dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))).cast("decimal(28,8)"))
            .cast("double")
            .alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3_topk(spark, sf_dir):
    """TPC-H Q3 shipping priority — 3-way join + agg + top-k.

    Same join pin as q_tpch_q5 (r6b): the SMJ hint sits on the
    customer⋈orders side, so lineitem streams and shuffles on
    l_orderkey and is NEVER a hash-build side; without the pin its
    borderline ~10 MB scan estimate intermittently made the FACT the
    broadcast build side."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda col: F.col(col).cast("decimal(18,4)")
    return (
        li.join(c.join(o, c.c_custkey == o.o_custkey).hint("merge"),
                F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))).cast("decimal(28,8)")
            )
            .cast("double")  # oracle twin parses via VARCHAR: see q_tpch_q1
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_tpch_q5(spark, sf_dir):
    """TPC-H Q5 local-supplier volume — the 5+-way join-ordering probe
    (r3 verdict #8): customer ⋈ orders ⋈ lineitem ⋈ supplier fact chain
    with the c_nationkey = s_nationkey co-location constraint, then the
    tiny nation/region dims BROADCAST (explicit hint — at 100 TB the fact
    chain shuffles on its keys while the dims ship to every executor).

    Join pin (r6 — the r5 'q5 uptick' was a PLAN FLIP, not the box):
    lineitem's column-pruned scan estimate sits right at the 10 MB
    autoBroadcastJoinThreshold, so across sessions the planner
    alternated between the fact-chain-shuffles plan (r4's 0.95 s) and a
    degenerate one that made the 600k-row FACT the broadcast BUILD side
    — a single-threaded hash build of the biggest table per run (the
    1.2–1.6 s r5/r6 saw).

    r6b correction: the first r6 pin put `shuffle_hash` on lineitem,
    and Spark's SHUFFLE_HASH hint makes the HINTED side the build side
    — so the fix reintroduced the fact-build shape it existed to
    prevent, at ShuffledHashJoin granularity instead of broadcast
    (docs/PLANS.md recorded `ShuffledHashJoin Inner BuildLeft` over
    the lineitem scan; SHJ build maps do not spill, so that OOMs at
    scale). The pin now hints `merge` on the customer⋈orders side:
    SortMergeJoin has NO build side, spills both inputs, and is what
    accurate estimates would pick at 100 TB. Head-to-head (r6b, sf0.1,
    best of 4): fact-build SHJ 1.80 / co-build SHJ 1.41 / SMJ 1.40 —
    the honest shape is also the fastest. A broadcast-co variant
    measured 0.88 in r6 but force-broadcasts a join that scales with
    the data, so it stays rejected."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    dec = lambda col: F.col(col).cast("decimal(18,4)")
    co = c.join(o, c.c_custkey == o.o_custkey).hint("merge")
    return (
        li.join(co, F.col("o_orderkey") == li.l_orderkey)
        .join(
            s,
            (F.col("l_suppkey") == s.s_suppkey)
            & (F.col("c_nationkey") == s.s_nationkey),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))).cast("decimal(28,8)")
            )
            .cast("double")  # oracle twin parses via VARCHAR: see q_tpch_q1
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def q_tpch_q17(spark, sf_dir):
    """TPC-H Q17 small-quantity-order revenue — the correlated-scalar-
    subquery shape, decorrelated Spark-first into a per-part aggregate
    joined back (Catalyst does the same rewrite for IN/EXISTS; here it is
    explicit). The DuckDB twin keeps the textbook correlated form, so the
    oracle validates the decorrelation itself.

    Exactness: the l_quantity < 0.2·avg(l_quantity) predicate is algebra'd
    to 5·qty·count < sum(qty) — all integral doubles, exact in IEEE, so no
    cross-engine float-rounding boundary can flip a row's membership."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 15)
    )
    sel = li.join(
        F.broadcast(p.select("p_partkey")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    per_part = sel.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("sum_qty"), F.count("*").alias("cnt_qty")
    )
    small = sel.join(per_part, "l_partkey").filter(
        F.lit(5) * F.col("l_quantity") * F.col("cnt_qty") < F.col("sum_qty")
    )
    return small.agg(
        F.count("*").alias("n_small_orders"),
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("decimal(28,8)")
            .cast("double")
            / F.lit(7.0)
        ).alias("avg_yearly"),
    )


def q_pivot_lineitem(spark, sf_dir):
    """Pivot: per-returnflag quantity split by linestatus."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
        .select(
            "l_returnflag",
            F.col("O").alias("qty_open"),
            F.col("F").alias("qty_filled"),
        )
    )


def q_set_ops(spark, sf_dir):
    """Set operations: customers who placed orders (intersect) and who
    never did (except), as counts."""
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    both = c.intersect(o)
    never = c.exceptAll(o.distinct())
    return both.agg(F.count("*").alias("n_with_orders")).crossJoin(
        never.agg(F.count("*").alias("n_without_orders"))
    )


def q_semi_join(spark, sf_dir):
    """Left-semi (EXISTS): orders having any high-quantity lineitem."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
    )


def q_date_trunc(spark, sf_dir):
    """Date/time functions: daily event rollup."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count("*").alias("n_events"),
        _r4(F.sum("value")).alias("total_value"),
    )


def _r4(c):
    """Fixed-point HALF_UP to 4 decimals — the ONE engine-portable rounding
    used by every oracle-hashed value (round()/printf disagree across
    engines at .x5 halves on binary doubles)."""
    return F.floor(c * 10000 + F.lit(0.5)) / 10000.0


def _r6(c):
    """Fixed-point HALF_UP to 6 decimals (see _r4)."""
    return F.floor(c * 1000000 + F.lit(0.5)) / 1000000.0


def q_percentiles(spark, sf_dir):
    """Exact percentiles (sort-based `percentile`, linear interpolation)
    per language — the quantile function family. Fixed-point HALF_UP on
    both sides (never round()/printf for hashed values)."""
    d = _docs(spark, sf_dir)
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        _r4(F.expr("percentile(n_chars, 0.25)")).alias("p25"),
        _r4(F.expr("percentile(n_chars, 0.5)")).alias("p50"),
        _r4(F.expr("percentile(n_chars, 0.9)")).alias("p90"),
        F.max("n_chars").alias("max_chars"),
    )


def q_approx_quantiles(spark, sf_dir):
    """Sketch-based quantiles vs exact, self-validating (the corpus_qa
    pattern): approx_percentile's KLL/GK sketch differs across engines,
    so the entry is rows-only and carries its own error bound — the
    approximate p50/p90 must land within the value range the exact
    quantile neighborhood allows (±2.5% rank tolerance)."""
    d = _docs(spark, sf_dir)
    eps = 0.025
    agg = d.agg(
        F.count("*").alias("n_docs"),
        F.expr("approx_percentile(n_chars, 0.5, 10000)").alias("ap50"),
        F.expr("approx_percentile(n_chars, 0.9, 10000)").alias("ap90"),
        F.expr(f"percentile(n_chars, {0.5 - eps})").alias("lo50"),
        F.expr(f"percentile(n_chars, {0.5 + eps})").alias("hi50"),
        F.expr(f"percentile(n_chars, {0.9 - eps})").alias("lo90"),
        F.expr(f"percentile(n_chars, {0.9 + eps})").alias("hi90"),
    )
    return agg.select(
        "n_docs", "ap50", "ap90",
        ((F.col("ap50") >= F.col("lo50")) & (F.col("ap50") <= F.col("hi50")))
        .alias("p50_within_bound"),
        ((F.col("ap90") >= F.col("lo90")) & (F.col("ap90") <= F.col("hi90")))
        .alias("p90_within_bound"),
    )


def q_stats_moments(spark, sf_dir):
    """Statistical aggregates (sample stddev/variance, Pearson
    correlation) per language — numerically stable merge on both engines;
    fixed-point HALF_UP at 4 decimals for the hash compare."""
    d = _docs(spark, sf_dir)
    ln = F.length("text").cast("double")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        _r4(F.stddev_samp("n_chars")).alias("sd_chars"),
        _r4(F.var_samp("n_chars")).alias("var_chars"),
        _r4(F.corr(F.col("n_chars").cast("double"), ln)).alias("corr_len"),
    )


def q_window_rank(spark, sf_dir):
    """Ranking-window breadth (r4): rank / dense_rank / percent_rank /
    cume_dist / ntile / lead / lag over per-customer order totals, all in
    ONE window spec → one o_custkey exchange feeds every function."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        _r6(F.percent_rank().over(w)).alias("prnk"),
        _r6(F.cume_dist().over(w)).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
        _r4(F.lead("o_totalprice").over(w)).alias("next_price"),
        _r4(F.lag("o_totalprice").over(w)).alias("prev_price"),
    )


def q_window_range(spark, sf_dir):
    """RANGE-framed window (time-based moving sum over the trailing hour)
    — the value-based frame variant of window_running's ROWS frame. Both
    engines order by epoch seconds, so the frame bounds are identical;
    timezone offsets cancel in the differences."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    secs = F.col("ts").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(secs.alias("_s"))
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        _r4(F.sum("value").over(w)).alias("hour_sum"),
    )


def q_json_extract(spark, sf_dir):
    """JSON functions: extract props.k, bucket it, aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy((k % 10).alias("k_bucket")).agg(
        F.count("*").alias("n_events"),
        _r4(F.avg("value")).alias("avg_value"),
    )


def q_window_running(spark, sf_dir):
    """Window: running per-user sum over event time."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        _r4(F.sum("value").over(w)).alias("running_value"),
    )


def q_rollup_orders(spark, sf_dir):
    """Rollup aggregation for metrics reporting."""
    o = _t(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_price"),
    )


# --- rows-only (no ANSI-SQL equivalent; driver records weaker check) ---------


def q_extract_pipeline(spark, sf_dir):
    """The REAL extraction engine over spanified driver docs + quality of the
    rendered output — not expressible in SQL (mapInArrow stage).
    Stats-only consumer → metrics-only schema (include_spans=False): the
    span structs are never read here, and Spark cannot column-prune
    through the Python node (measured 1.8× at 1M docs)."""
    from ocr_toolkit_spark.operators.extract import extract_spans
    from ocr_toolkit_spark.operators.skew import spread

    # spread (r7): the mapInArrow kernel runs in the scan stage — one task
    # on a single-row-group input; per-doc outputs and the integer sums
    # are partition-independent.
    extracted = extract_spans(_spanify(spread(_docs(spark, sf_dir))),
                              include_spans=False)
    return (
        extracted.groupBy("method")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.col("success").cast("int")).alias("succeeded"),
            F.sum("n_spans").alias("spans"),
            F.sum("n_chars").alias("chars"),
        )
        .orderBy("method")
    )


def q_extract_counts(spark, sf_dir):
    """The extraction flagship's ORACLE-CHECKABLE slice (r4 verdict #1): the
    REAL mapInArrow engine over the text/markdown/paged routes of the
    spanified driver docs (doc_id % 5 IN (0,1,4) — the routes whose
    semantics are SQL-expressible), aggregated per method. The DuckDB twin
    independently recomputes content-sniff dispatch, the `# {doc_id}` wrap
    rule (reference text_file_processor.py:104-122), block normalization
    (openocr_doc_handler.py:255-257), and `## Page n` emission
    (openocr_doc_handler.py:219,276) from the raw documents table, so a
    hash match pins the kernel's per-doc span/char output against a second
    engine. r5b adds the SHEET route (doc_id%5==3): the twin re-derives
    format_cell (int/float/ISO-datetime/pipe-escape/truncate,
    excel_processor.py:206-242) and the markdown table geometry
    (pad-to-max-cols + '---' separator). Only the html route stays
    pytest-only (DOM block scoring is not SQL)."""
    from ocr_toolkit_spark.operators.extract import extract_spans

    # route-3 scope guard (review r5b #1): NULL text/lang/source/n_chars
    # make concat_ws DROP the cell, changing the kernel's table geometry
    # in ways a fixed-column SQL twin cannot express — exclude such docs
    # from the checkable slice on BOTH sides (the driver tables have no
    # NULLs; this pins the contract, not the data)
    r = F.col("doc_id") % 5
    docs = _docs(spark, sf_dir).filter(
        r.isin(0, 1, 3, 4)
        & ((r != 3)
           | (F.col("text").isNotNull() & F.col("lang").isNotNull()
              & F.col("source").isNotNull() & F.col("n_chars").isNotNull()))
    )
    from ocr_toolkit_spark.operators.skew import spread

    # spread (r7): same one-task scan-stage fix as q_extract_pipeline;
    # exact integer aggregates, output unchanged.
    extracted = extract_spans(_spanify(spread(docs)), include_spans=False)
    return (
        extracted.groupBy("method")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.col("success").cast("int")).alias("succeeded"),
            F.sum("n_spans").alias("spans"),
            F.sum("n_chars").alias("chars"),
        )
        .orderBy("method")
    )


def _caps_summary(bucketed):
    """One-row capped-bucket totals (buckets_capped, pairs_avoided) of a
    (band, band_hash) bucket frame, so starred coverage is visible in the
    output, never silent (skew.oversized_bucket_stats)."""
    from ocr_toolkit_spark.operators.skew import oversized_bucket_stats

    return oversized_bucket_stats(bucketed, ["band", "band_hash"]).agg(
        F.count("*").alias("buckets_capped"),
        F.coalesce(F.sum("pairs_avoided"), F.lit(0)).alias("pairs_avoided"),
    )


def q_minhash_dedup(spark, sf_dir):
    """Self-validating (r3 verdict #1): every emitted pair's Jaccard is
    recomputed from TEXT by the verify stage, so the output carries the
    bound itself (min_jaccard ≥ threshold ⇒ meets_threshold true), plus
    the capped-bucket totals (_caps_summary)."""
    from ocr_toolkit_spark.operators.dedup import (
        jaccard_verify,
        minhash_banded_frame,
    )
    from ocr_toolkit_spark.operators.skew import delta_candidate_pairs, spread

    # spread (r7): shingle build + 32 per-seed hash minima run map-side
    # before the per-doc aggregation — one task on a single-row-group
    # input. Signature/band values are per-doc deterministic, so the
    # candidate set and verified pairs are unchanged.
    d = spread(_docs(spark, sf_dir))
    banded = minhash_banded_frame(d, "doc_id", "text", k=5, n_hashes=32, bands=8)
    cand = delta_candidate_pairs(banded)
    verified = jaccard_verify(cand, d, "doc_id", "text", k=5, threshold=0.5)
    return verified.agg(
        F.count("*").alias("near_dup_pairs"),
        F.round(F.coalesce(F.avg("jaccard"), F.lit(0.0)), 4).alias("avg_jaccard"),
        F.round(F.coalesce(F.min("jaccard"), F.lit(1.0)), 4).alias("min_jaccard"),
        F.lit(0.5).alias("jaccard_threshold"),
        (F.coalesce(F.min("jaccard"), F.lit(1.0)) >= 0.5).alias("meets_threshold"),
    ).crossJoin(_caps_summary(banded))


def _side_tagged(frames, cols):
    """The union of `frames`' `cols`, tagged with each frame's index `side`."""
    return reduce(DataFrame.unionByName, (
        f.select(*cols, F.lit(i).alias("side")) for i, f in enumerate(frames)))


def _pair_proof(sided):
    """(inc_pairs, full_pairs, pair_sym_diff) = (Σi, Σf, Σ|i − f|) over per-pair
    side counts i, f; Σ|i − f| is the `exceptAll`-both-ways size on multisets."""
    per_pair = sided.groupBy("id_a", "id_b").agg(*(
        F.count_if(F.col("side") == s).alias(c) for s, c in ((0, "i"), (1, "f"))))
    return per_pair.agg(*(F.coalesce(F.sum(c), F.lit(0)).alias(n) for c, n in (
        (F.col("i"), "inc_pairs"), (F.col("f"), "full_pairs"),
        (F.abs(F.col("i") - F.col("f")), "pair_sym_diff"))))


def _loser_flags(d, sided):
    """`d` with lose0/lose1: does keep-first dedup under side 0's / 1's pairs
    drop the row? One CC run labels both graphs, apart by (id, side) keys."""
    from ocr_toolkit_spark.operators.cc import connected_components

    cc = connected_components(sided.select(*(
        F.struct(F.col(c).alias("id"), "side").alias(c) for c in ("id_a", "id_b"))))
    lose = cc.filter(F.col("node") != F.col("component")).groupBy(
        F.col("node.id").alias("doc_id")
    ).agg(*(F.max(F.col("node.side") == s).alias(f"lose{s}") for s in (0, 1)))
    return d.join(lose, "doc_id", "left").fillna(False, ["lose0", "lose1"])


def q_delta_dedup(spark, sf_dir):
    """Incremental (delta) near-dedup, SELF-VALIDATING (r4 verdict #2): the
    driver docs split 80/20 into a base ingest and a delta ingest; the
    delta round touches only new docs' signatures against the persisted
    banded state (operators/incremental.py), and the output carries the
    equivalence proof itself — pair_sym_diff and keep_sym_diff vs a full
    re-run on the union corpus, both must be 0."""
    import shutil
    import tempfile

    from ocr_toolkit_spark.operators.dedup import (
        jaccard_verify,
        minhash_lsh_candidates,
    )
    from ocr_toolkit_spark.operators.incremental import incremental_dedup_round
    from ocr_toolkit_spark.operators.skew import materialize

    d = _docs(spark, sf_dir)
    is_base = F.col("doc_id") % 10 < 8
    base, delta = d.filter(is_base), d.filter(~is_base)
    state = tempfile.mkdtemp(prefix="delta_dedup_state_")
    cfg = dict(k=5, n_hashes=32, bands=8, threshold=0.5)

    p0 = incremental_dedup_round(spark, base, base, state, "base", **cfg)
    p1 = incremental_dedup_round(spark, delta, d, state, "delta", **cfg)
    # rounds materialize their pairs, so the returned plan never reads the
    # state dir — safe to drop the scratch state now
    shutil.rmtree(state, ignore_errors=True)

    full_cand = minhash_lsh_candidates(d, k=5, n_hashes=32, bands=8)
    full_pairs = jaccard_verify(full_cand, d, k=5, threshold=0.5)
    # materialized: the pair grouping and the labelling both read it
    sided = materialize(
        _side_tagged([p0.unionByName(p1), full_pairs], ["id_a", "id_b"]))
    return _loser_flags(d, sided).agg(
        F.count_if(is_base).alias("base_docs"),
        F.count_if(~is_base).alias("delta_docs"),
        F.count_if(~F.col("lose0")).alias("keep_docs"),
        F.count_if(F.col("lose0") != F.col("lose1")).alias("keep_sym_diff"),
    ).crossJoin(_pair_proof(sided)).select("base_docs", "delta_docs",
        "inc_pairs", "full_pairs", "pair_sym_diff", "keep_docs", "keep_sym_diff")


def q_simhash_dedup(spark, sf_dir):
    """Self-validating (r3 verdict #1): hamming is recomputed exactly via
    bit_count(xor) on full signatures, so the output carries the bound
    (max hamming observed ≤ the cutoff), plus capped-bucket totals."""
    from ocr_toolkit_spark.operators.dedup import (
        simhash_pairs_from_pieces,
        simhash_pieces_frame,
    )
    from ocr_toolkit_spark.operators.skew import spread

    # spread (r7): the vectorized SimHash UDF ran in a one-task scan stage
    # on the single-row-group input; signatures are per-doc deterministic.
    pieces = simhash_pieces_frame(spread(_docs(spark, sf_dir)), chunks=4)
    pairs = simhash_pairs_from_pieces(pieces, max_hamming=3)
    return pairs.agg(
        F.count("*").alias("simhash_pairs"),
        F.coalesce(F.max("hamming"), F.lit(0)).alias("max_hamming_observed"),
        F.lit(3).alias("hamming_cutoff"),
        (F.coalesce(F.max("hamming"), F.lit(0)) <= 3).alias("within_cutoff"),
    ).crossJoin(_caps_summary(pieces))


def _ann_recall_report(anns, bf, k, floor):
    """Self-validating ANN output (r2 review #6): recall@k of each ANN result in
    `anns` (columns suffixed _i after the first) against the in-query exact
    brute force, plus the asserted floor — the driver's rows-only record
    carries the quality bound in the output itself (the corpus_qa pattern).
    Per-query recall divides by the brute-force result COUNT, not the constant
    k, so a corpus with fewer than k neighbors still scores a perfect ANN as 1.0."""
    key = ["query_id", "neighbor_id"]
    sfx = [f"_{i}" if i else "" for i in range(len(anns))]
    # side 0 is the brute force itself, which its own semi-join keeps whole
    per_q = (
        _side_tagged([bf, *anns], key)
        .join(bf.select(*key), key, "left_semi")
        .groupBy("query_id")
        .agg(*(F.count_if(F.col("side") == i).alias(f"n{i}")
               for i in range(len(anns) + 1)))
    )
    recall = [(F.avg(F.col(f"n{i}") / F.col("n0")), x)
              for i, x in enumerate(sfx, 1)]
    return per_q.agg(
        F.count("*").alias("queries"),
        F.lit(k).alias("k"),
        *(F.round(r, 4).alias(f"mean_recall{x}") for r, x in recall),
        F.lit(floor).alias("recall_floor"),
        *((r >= floor).alias(f"meets_floor{x}") for r, x in recall),
    )


def q_lsh_topk(spark, sf_dir):
    from ocr_toolkit_spark.operators.similarity import brute_force_topk, lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    q = e.filter(F.col("vec_id") < 5)
    ann = lsh_topk(e, q, dim=dim, k=10, n_bits=4, n_probe=3, n_tables=4)
    bf = brute_force_topk(e, q, k=10)
    return _ann_recall_report([ann], bf, k=10, floor=0.65)


def q_ivf_topk(spark, sf_dir):
    from ocr_toolkit_spark.operators.similarity import brute_force_topk, ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    q = e.filter(F.col("vec_id") < 5)
    ann = ivf_topk(e, q, dim=dim, k=10, n_centroids=16, n_probe=8)
    bf = brute_force_topk(e, q, k=10)
    return _ann_recall_report([ann], bf, k=10, floor=0.65)


def q_embedding_near_dups(spark, sf_dir):
    """Self-validating in-output (r5 verdict #7 — the last entry that had
    neither an oracle nor an in-output bound): every emitted pair's `sim`
    is the exact cosine computed from the payload vectors at verification
    time, and the output carries the bound itself (min_sim ≥ threshold ⇒
    meets_threshold) plus the capped-bucket totals, the same pattern as
    minhash/simhash. The SRP-bucketed frame is materialized ONCE inside
    the operator and shared by the pair join and the caps report (r6b:
    via `return_bucketed=True` — this entry previously inlined the
    operator's body to share that frame, and the copies had drifted)."""
    from ocr_toolkit_spark.operators.similarity import (
        cosine_precomputed,
        embedding_near_dups,
        with_vec_norm,
    )
    from ocr_toolkit_spark.operators.skew import materialize, spread

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    raw_pairs, v = embedding_near_dups(
        e, dim=dim, threshold=0.9, n_bits=8, seed=42,
        id_col="vec_id", vec_col="embedding", return_bucketed=True,
    )
    pairs = materialize(raw_pairs.distinct())
    # recall side of the bound (the lsh/ivf floor pattern): a 5-query
    # exact brute-force slice. Every SRP pair already passed the exact
    # cosine filter (⊆ exact by construction), so count equality on the
    # slice ⟺ the bucketed path missed nothing there — non-vacuous even
    # when the corpus holds zero near-dups (0 == 0 is a real statement
    # that nothing was missed, where min_sim alone would be).
    # r7: norms hoisted per vector (cosine_precomputed is bit-identical to
    # cosine) and the corpus side spread — the brute-force slice ran its
    # 5×N cosines inside a one-task scan stage.
    q5 = with_vec_norm(
        e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
        ),
        "qv", "_qd", "_qn",
    )
    exact_slice = (
        with_vec_norm(spread(e), "embedding", "_ed", "_en")
        .crossJoin(F.broadcast(q5))
        .filter(F.col("vec_id") != F.col("qid"))
        .withColumn("sim", cosine_precomputed(
            F.col("_qd"), F.col("_ed"), F.col("_qn"), F.col("_en")))
        .filter(F.col("sim") >= 0.9)
        .select(
            F.least("qid", "vec_id").alias("a"),
            F.greatest("qid", "vec_id").alias("b"),
        )
        .distinct()
    )
    srp_slice = pairs.filter(
        (F.col("id_a") < 5) | (F.col("id_b") < 5)
    ).select("id_a", "id_b").distinct()
    slice_counts = (
        exact_slice.agg(F.count("*").alias("slice_pairs_exact"))
        .crossJoin(srp_slice.agg(F.count("*").alias("slice_pairs_srp")))
        .withColumn(
            "slice_recall_ok",
            F.col("slice_pairs_srp") == F.col("slice_pairs_exact"),
        )
    )
    return (
        pairs.agg(
            F.count("*").alias("near_dup_pairs"),
            F.round(F.coalesce(F.min("sim"), F.lit(1.0)), 4).alias("min_sim"),
            F.lit(0.9).alias("sim_threshold"),
            (F.coalesce(F.min("sim"), F.lit(1.0)) >= 0.9).alias(
                "meets_threshold"),
        )
        .crossJoin(_caps_summary(v))
        .crossJoin(slice_counts)
    )


def q_delta_embedding_dedup(spark, sf_dir):
    """Incremental (delta) EMBEDDING near-dedup, SELF-VALIDATING — the
    r6c third delta modality (minhash text and the IVF index being the
    other two): vectors split 80/20 into a base ingest and a delta
    ingest over a persisted SRP-bucket state
    (operators/incremental.py:srp_banded_frame shares the minhash
    state machinery verbatim); the output carries the equivalence proof
    itself — pair_sym_diff vs similarity.embedding_near_dups on the
    union corpus must be 0, and min_sim ≥ the threshold because every
    emitted pair passed exact-cosine verification."""
    import shutil
    import tempfile

    from ocr_toolkit_spark.operators.incremental import (
        incremental_embedding_round,
    )
    from ocr_toolkit_spark.operators.similarity import embedding_near_dups

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    # the synthetic embeddings hold no natural cosine-0.9 neighbors at
    # any test SF (the batch entry's slice check was built around that),
    # so plant deterministic near-dups JVM-side: scaled copies of the
    # first 40 vectors under fresh ids — cosine(v, 1.5v) = 1.0 exactly,
    # and the id parity split puts some in the base and some in the
    # delta, so BOTH rounds' pair sets are non-empty and the sym-diff
    # check below is non-vacuous
    planted = e.filter(F.col("vec_id") < 40).select(
        (F.col("vec_id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.5)).cast("float")
        ).alias("embedding"),
    )
    e = e.select("vec_id", "embedding").unionByName(planted)
    is_base = F.col("vec_id") % 10 < 8
    base, delta = e.filter(is_base), e.filter(~is_base)
    state = tempfile.mkdtemp(prefix="delta_embed_state_")
    # 14 bits → 16,384 buckets: the sym-diff==0 contract below holds only
    # while no bucket exceeds skew.DEFAULT_MAX_BUCKET (under capping the
    # delta and batch paths legitimately diverge — module docstring), and
    # 8 bits' 256 buckets would cross that at ~65k vectors. 14 bits keeps
    # mean bucket size ≤ 256 up to ~4M vectors; buckets_capped is emitted
    # below so a violation is visible instead of a mystery sym-diff.
    cfg = dict(dim=dim, threshold=0.9, n_bits=14, seed=42)

    p0 = incremental_embedding_round(spark, base, base, state, "base", **cfg)
    p1 = incremental_embedding_round(spark, delta, e, state, "delta", **cfg)
    inc_pairs = p0.unionByName(p1)
    # rounds materialize their pairs; the returned plan never reads the
    # state dir — safe to drop the scratch state now (q_delta_dedup
    # precedent)
    shutil.rmtree(state, ignore_errors=True)

    # the batch run's bucket frame is the rounds' bucketing too (SRP
    # table 0 = make_srp_bucketer(dim, n_bits, seed)), so the caps report
    # reads it instead of bucketing the corpus a second time
    full, bucketed = embedding_near_dups(
        e, dim=dim, threshold=0.9, n_bits=cfg["n_bits"], seed=cfg["seed"],
        id_col="vec_id", vec_col="embedding", return_bucketed=True,
    )
    ip, fp = (p.select("id_a", "id_b").distinct() for p in (inc_pairs, full))
    min_sim = F.coalesce(F.min("sim"), F.lit(1.0))
    return (
        e.agg(F.count_if(is_base).alias("base_vecs"),
              F.count_if(~is_base).alias("delta_vecs"))
        .crossJoin(_pair_proof(_side_tagged([ip, fp], ["id_a", "id_b"])))
        .crossJoin(inc_pairs.agg(F.round(min_sim, 4).alias("min_sim"),
                                 (min_sim >= 0.9).alias("meets_threshold")))
        .crossJoin(_caps_summary(bucketed).select("buckets_capped"))
    )


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: binary payloads → Arrow-batched feature stage
    (decode stubbed — no codecs in this container). Oracle-checked (r4
    verdict #3): the deterministic doc_id<200 slice replaces limit(200), and
    min/max sha256 pin the stage's actual digest values (not just counts)
    against DuckDB's sha256() over the same UTF-8 payload bytes. The stub
    feature vector stays out of the hash (environment-limited codec)."""
    from ocr_toolkit_spark.operators.multimodal import extract_media_features

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    media = d.select(
        F.concat(F.lit("m_"), F.col("doc_id").cast("string")).alias("media_ref"),
        F.when(F.col("doc_id") % 2 == 0, "image").otherwise("audio").alias(
            "media_type"
        ),
        F.encode("text", "utf-8").alias("payload"),
    )
    feats = extract_media_features(media)
    return (
        feats.groupBy("media_type")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.countDistinct("sha256").alias("distinct_payloads"),
            F.min("sha256").alias("min_sha"),
            F.max("sha256").alias("max_sha"),
        )
        .orderBy("media_type")
    )


def q_ivf_index_delta(spark, sf_dir):
    """Incremental IVF index, SELF-VALIDATING (r5 verdict #8 — the
    delta-dedup shape for ANN): embeddings split 80/20 into a base build
    (quantizer trained once, pinned) and a delta append (assigned with
    the FROZEN quantizer — O(delta), drift-gated). The output carries the
    equivalence proof: recall@10 vs in-query exact brute force for BOTH
    the delta-appended index and a full union rebuild (both from one
    _ann_recall_report pass), their difference, and the delta's
    quantization-error ratio (must sit under the pinned drift trigger)."""
    import shutil
    import tempfile

    from ocr_toolkit_spark.operators.ivf_index import (
        append_ivf_index,
        build_ivf_index,
        ivf_index_topk,
    )
    from ocr_toolkit_spark.operators.similarity import brute_force_topk
    from ocr_toolkit_spark.operators.skew import materialize

    e = _t(spark, sf_dir, "embeddings")
    dim = len(e.select("embedding").first()[0])
    is_base = F.col("vec_id") % 10 < 8
    base, delta = e.filter(is_base), e.filter(~is_base)
    q = e.filter(F.col("vec_id") < 5)

    root = tempfile.mkdtemp(prefix="ivf_index_delta_")
    idx, idx_full = f"{root}/delta", f"{root}/full"
    try:
        build_ivf_index(spark, base, dim, idx, "base", n_centroids=16)
        arep = append_ivf_index(spark, delta, idx, "delta-1")
        build_ivf_index(spark, e, dim, idx_full, "full", n_centroids=16)

        bf = brute_force_topk(e, q, k=10)
        ann_d = ivf_index_topk(spark, q, idx, k=10, n_probe=8)
        ann_f = ivf_index_topk(spark, q, idx_full, k=10, n_probe=8)
        # the report reads the scratch index dirs — pin its rows before
        # deleting them (the q_delta_dedup precedent)
        rep = materialize(
            _ann_recall_report([ann_d, ann_f], bf, k=10, floor=0.65)
            .select(
                "queries", "k",
                F.col("mean_recall").alias("recall_delta_index"),
                F.col("meets_floor").alias("delta_meets_floor"),
                F.col("mean_recall_1").alias("recall_full_rebuild"),
                (F.abs(F.col("mean_recall") - F.col("mean_recall_1"))
                 <= 0.05).alias("recall_parity_ok"),
            )
            .crossJoin(e.agg(F.count_if(is_base).alias("base_vecs"),
                             F.count_if(~is_base).alias("delta_vecs")))
            .withColumn("delta_qerr_ratio", F.lit(arep["qerr_ratio"]))
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return rep


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "dispatch_case": q_dispatch_case,
        "stats_by_lang": q_stats_by_lang,
        "quality_scores": q_quality_scores,
        "method_selection": q_method_selection,
        "method_selection_full": q_method_selection_full,
        "sessionize": q_sessionize,
        "event_windows": q_event_windows,
        "near_dup_components": q_near_dup_components,
        "stopword_quality": q_stopword_quality,
        "topk_docs": q_topk_docs,
        "anti_join": q_anti_join,
        "exact_dedup": q_exact_dedup,
        "normalized_dedup": q_normalized_dedup,
        "token_stats": q_token_stats,
        "bpe_tokens": q_bpe_tokens,
        "grouping_sets": q_grouping_sets,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "shingle_stats": q_shingle_stats,
        "similarity_bruteforce": q_similarity_bruteforce,
        "tpch_q1": q_tpch_q1,
        "tpch_q3_topk": q_tpch_q3_topk,
        "tpch_q5": q_tpch_q5,
        "tpch_q17": q_tpch_q17,
        "pivot_lineitem": q_pivot_lineitem,
        "set_ops": q_set_ops,
        "semi_join": q_semi_join,
        "date_trunc": q_date_trunc,
        "percentiles": q_percentiles,
        "stats_moments": q_stats_moments,
        "window_rank": q_window_rank,
        "window_range": q_window_range,
        "json_extract": q_json_extract,
        "window_running": q_window_running,
        "rollup_orders": q_rollup_orders,
        "extract_counts": q_extract_counts,
        "media_features": q_media_features,
        # rows-only (no SQL equivalent):
        "extract_pipeline": q_extract_pipeline,
        "minhash_dedup": q_minhash_dedup,
        "delta_dedup": q_delta_dedup,
        "delta_embedding_dedup": q_delta_embedding_dedup,
        "simhash_dedup": q_simhash_dedup,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "corpus_qa": q_corpus_qa,
        "approx_quantiles": q_approx_quantiles,
        "embedding_near_dups": q_embedding_near_dups,
        "ivf_index_delta": q_ivf_index_delta,
    }


# ---------------------------------------------------------------------------
# oracle_sql — DuckDB twins (identical column names + rounding)
# ---------------------------------------------------------------------------

from ocr_toolkit_spark.operators.textstats import PY_WHITESPACE as _PYWS

# RE2 equivalents of PYTHON's regex classes (the reference is Python re):
# \s(Python) = RE2 \s + \v + NEL + U+001C..1F + all Unicode Z;
# \w(Python) = [\p{L}\p{N}_]
_CLS = r"\s\x{000B}\x{0085}\x{001C}-\x{001F}\p{Z}"
_W = r"\p{L}\p{N}_"

_QUALITY_SQL = f"""
WITH t AS (SELECT doc_id, trim(text, '{_PYWS}') AS tx FROM documents),
m AS (
  SELECT doc_id,
    CASE WHEN tx IS NULL OR length(tx)=0 THEN 0.0
         ELSE least(length(tx)/1000.0, 10.0)*10.0 END AS length_score,
    CASE WHEN tx IS NULL OR length(tx)=0 THEN 0.0
         ELSE least(
            least(length(regexp_extract_all(tx,'(?m)^#+[{_CLS}]'))*5.0, 30.0)
          + least(length(regexp_extract_all(tx,'(?m)^[-*•][{_CLS}]|^\\p{{Nd}}+\\.[{_CLS}]'))*2.0, 20.0)
          + least((length(regexp_extract_all(tx,'\\n[{_CLS}]*\\n'))+1)*1.0, 20.0)
          + least(length(list_filter(string_split(tx, chr(10)), x -> trim(x, '{_PYWS}') != ''))*0.5, 30.0)
          , 100.0) END AS structure_score,
    CASE WHEN tx IS NULL OR length(tx)=0 THEN 0.0
         ELSE least(length(list_distinct(string_split(replace(replace(lower(tx),' ',''),chr(10),''),'')))*2.0, 100.0)
         END AS diversity_score,
    CASE WHEN tx IS NULL OR length(tx)=0 THEN 1.0 ELSE
      (CASE WHEN length(regexp_extract_all(tx, '[^{_W}{_CLS}\\n.,!?;:()\\[\\]{{}}""-]'))*1.0/length(tx) > 0.05 THEN 0.9 ELSE 1.0 END)
      * (CASE WHEN length(regexp_extract_all(tx,'[{_W}]+')) > 0
               AND length(list_filter(regexp_extract_all(tx,'[{_W}]+'), w -> length(w) = 1))*1.0
                   / length(regexp_extract_all(tx,'[{_W}]+')) > 0.3
              THEN 0.7 ELSE 1.0 END)
      END AS error_penalty
  FROM t)
SELECT doc_id,
  CAST(floor(length_score*10000 + 0.5)/10000.0 AS DOUBLE) AS length_score,
  CAST(floor(structure_score*10000 + 0.5)/10000.0 AS DOUBLE) AS structure_score,
  CAST(floor(diversity_score*10000 + 0.5)/10000.0 AS DOUBLE) AS diversity_score,
  CAST(floor(error_penalty*10000 + 0.5)/10000.0 AS DOUBLE) AS error_penalty,
  CAST(floor(((length_score*0.3 + structure_score*0.4 + diversity_score*0.3)*error_penalty)*10000 + 0.5)/10000.0 AS DOUBLE) AS total_score
FROM m
"""

_SIMILARITY_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
scored AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
    floor((
      list_reduce(list_prepend(0.0::DOUBLE,
        list_transform(range(1, length(q.v)+1), i -> q.v[i]*n.v[i])), (x,y)->x+y)
      / (sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(q.v, x->x*x)), (x,y)->x+y))
       * sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform(n.v, x->x*x)), (x,y)->x+y))))*1000000 + 0.5)/1000000.0 AS sim
  FROM e q JOIN e n ON q.vec_id < 5 AND n.vec_id != q.vec_id)
SELECT query_id, neighbor_id, sim,
       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
FROM scored
QUALIFY rank <= 3
"""


def _f1(e: str) -> str:
    """DuckDB snippet: one-decimal HALF_UP fixed-point format of a
    non-negative double — must mirror compare_methods' fmt() exactly
    (Java/C '%.1f' round .x5 boundaries differently; this rule does not)."""
    i = f"CAST(floor(({e})*10+0.5) AS BIGINT)"
    return f"(CAST({i} // 10 AS VARCHAR) || '.' || CAST({i} % 10 AS VARCHAR))"


def _expand_f1(sql: str) -> str:
    return (
        sql.replace("{f1_md}", _f1("md_score"))
        .replace("{f1_ocr}", _f1("ocr_score"))
        .replace("{f1_md_diff}", _f1("md_score - ocr_score"))
        .replace("{f1_ocr_diff}", _f1("ocr_score - md_score"))
        .replace("{PYWS}", _PYWS)
        .replace("{CLS}", _CLS)
        .replace("{W}", _W)
        .replace("{{Nd}}", "{Nd}")
        .replace("{{}}", "{}")
    )


def oracle_sql() -> dict[str, str]:
    return {
        "dispatch_case": """
            SELECT CASE WHEN text LIKE '# %' THEN 'markdown'
                        WHEN n_chars > 400 THEN 'long_text'
                        ELSE 'text' END AS route,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "stats_by_lang": """
            SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   floor((sum(n_chars)*1.0/count(*))*10000 + 0.5)/10000.0 AS avg_chars,
                   min(n_chars) AS min_chars, max(n_chars) AS max_chars
            FROM documents GROUP BY lang
        """,
        "quality_scores": _QUALITY_SQL,
        "media_features": """
            SELECT CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END
                     AS media_type,
                   count(*) AS n_items,
                   CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
                   count(DISTINCT sha256(text)) AS distinct_payloads,
                   min(sha256(text)) AS min_sha,
                   max(sha256(text)) AS max_sha
            FROM documents WHERE doc_id < 200
            GROUP BY 1 ORDER BY media_type
        """,
        # independent re-derivation of SPANS.md §1/§2.1/§3.1/§3.2/§3.4 for the
        # spanified driver docs' SQL-expressible routes (doc_id%5 in 0,1,4):
        # dispatch on the stripped first span, '# {doc_id}' wrap + block strip
        # for text, heading/text classification for markdown, and per-page
        # '## Page n' emission (pages of 40/rest chars) for paged.
        "extract_counts": _expand_f1("""
            WITH base AS (
              SELECT doc_id, CAST(doc_id AS VARCHAR) AS did, text, lang,
                     source, n_chars AS doc_n_chars,
                     CAST(doc_id % 5 AS INT) AS route
              FROM documents
              WHERE doc_id % 5 IN (0, 1, 3, 4)
                AND (doc_id % 5 <> 3 OR (text IS NOT NULL
                     AND lang IS NOT NULL AND source IS NOT NULL
                     AND n_chars IS NOT NULL))),
            r01 AS (  -- routes 0/1: ONE text span (route 1 prefixes '# ')
              SELECT doc_id, did,
                COALESCE(CASE WHEN route = 1 THEN '# ' || text
                              ELSE text END, '') AS sp
              FROM base WHERE route IN (0, 1)),
            r01c AS (
              SELECT doc_id, did, trim(sp, '{PYWS}') AS st,
                trim(replace(replace(replace(sp, '](imgs/', '](media/'),
                     'src="imgs/', 'src="media/'), 'src=''imgs/',
                     'src=''media/'), '{PYWS}') AS tt
              FROM r01),
            r01out AS (
              SELECT doc_id,
                CASE WHEN st <> '' AND regexp_matches(st, '^#{1,6} ')
                     THEN 'markdown' ELSE 'text' END AS method,
                CASE WHEN st <> '' AND regexp_matches(st, '^#{1,6} ')
                     THEN 1
                     ELSE 1 + (CASE WHEN tt <> '' THEN 1 ELSE 0 END)
                END AS n_spans,
                CASE WHEN st <> '' AND regexp_matches(st, '^#{1,6} ')
                     THEN length(tt)
                     ELSE 2 + length(did) + length(tt)
                END AS n_chars
              FROM r01c),
            r4 AS (  -- route 4: pages split at char 40 by a page_break span
              SELECT doc_id,
                trim(replace(replace(replace(substr(COALESCE(text, ''), 1, 40),
                     '](imgs/', '](media/'), 'src="imgs/', 'src="media/'),
                     'src=''imgs/', 'src=''media/'), '{PYWS}') AS t1,
                trim(replace(replace(replace(substr(COALESCE(text, ''), 41, 10000),
                     '](imgs/', '](media/'), 'src="imgs/', 'src="media/'),
                     'src=''imgs/', 'src=''media/'), '{PYWS}') AS t2
              FROM base WHERE route = 4),
            r4out AS (  -- non-empty pages emit '## Page n' (9 chars) + block
              SELECT doc_id, 'paged' AS method,
                2 * (CASE WHEN t1 <> '' THEN 1 ELSE 0 END)
                  + 2 * (CASE WHEN t2 <> '' THEN 1 ELSE 0 END) AS n_spans,
                (CASE WHEN t1 <> '' THEN 9 + length(t1) ELSE 0 END)
                  + (CASE WHEN t2 <> '' THEN 9 + length(t2) ELSE 0 END) AS n_chars
              FROM r4),
            r3cells AS (  -- route 3: two table_row spans of 3 + 2 cells
              SELECT doc_id, unnest([
                substr(text, 1, 20), lang, source,
                substr(text, 21, 20), CAST(doc_n_chars AS VARCHAR)
              ]) AS c
              FROM base WHERE route = 3),
            r3fmt AS (  -- format_cell: ISO-datetime / int / float /
                        -- pipe-escape + 100-char truncate (SPANS.md 3.5.3)
              SELECT doc_id,
                CASE
                  WHEN c = '' THEN ''
                  WHEN regexp_matches(c,
                    '^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}$')
                    THEN replace(c, 'T', ' ')
                  WHEN regexp_matches(c, '^[+-]?\\d+$') THEN c
                  WHEN regexp_matches(c,
                    '^[+-]?(\\d+\\.\\d*|\\.\\d+|\\d+\\.)([eE][+-]?\\d+)?$')
                    OR regexp_matches(c, '^[+-]?\\d+[eE][+-]?\\d+$')
                    -- try_cast throughout (review r5b #2): a pathological
                    -- cell must at worst hash-mismatch its doc, never
                    -- abort the whole oracle query
                    THEN CASE
                      WHEN try_cast(c AS DOUBLE) IS NOT NULL
                           AND try_cast(c AS DOUBLE)
                               = floor(try_cast(c AS DOUBLE))
                           AND try_cast(try_cast(c AS DOUBLE) AS BIGINT)
                               IS NOT NULL
                        THEN CAST(try_cast(try_cast(c AS DOUBLE) AS BIGINT)
                                  AS VARCHAR)
                      WHEN try_cast(c AS DOUBLE) IS NOT NULL
                        THEN printf('%.2f', try_cast(c AS DOUBLE))
                      ELSE c END
                  ELSE CASE
                    WHEN length(replace(c, '|', '\\|')) > 100
                      THEN substr(replace(c, '|', '\\|'), 1, 97) || '...'
                    ELSE replace(c, '|', '\\|') END
                END AS f
              FROM r3cells),
            r3out AS (
              -- '# did' + '## Sheet: Sheet1' + one 3-col 2-row table:
              -- table chars = sum(cell lens) + 2 rows x ('| ' + 2x' | '
              -- + pad-col ' | ' + ' |') + separator row 19 + 2 newlines
              SELECT doc_id, 'sheet' AS method, 3 AS n_spans,
                59 + length(CAST(doc_id AS VARCHAR))
                   + CAST(sum(length(f)) AS BIGINT) AS n_chars
              FROM r3fmt GROUP BY doc_id),
            per AS (SELECT * FROM r01out UNION ALL SELECT * FROM r4out
                    UNION ALL SELECT * FROM r3out)
            SELECT method, count(*) AS docs,
                   count(*) AS succeeded,
                   CAST(sum(n_spans) AS BIGINT) AS spans,
                   CAST(sum(n_chars) AS BIGINT) AS chars
            FROM per GROUP BY method ORDER BY method
        """),
        "method_selection": """
            SELECT CASE WHEN length(text) * (CASE WHEN source IN ('src0','src1') THEN 1.3 ELSE 1.0 END)
                          > n_chars * (CASE WHEN lang='zh' THEN 1.5 ELSE 1.1 END)
                        THEN 'markitdown' ELSE 'ocr' END AS chosen_method,
                   count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "method_selection_full": _expand_f1("""
            WITH base AS (
              SELECT doc_id,
                CASE CAST(doc_id % 5 AS INT) WHEN 0 THEN '.docx' WHEN 1 THEN '.pdf'
                     WHEN 2 THEN '.jpg' WHEN 3 THEN '.html' ELSE '.txt' END AS ext,
                (doc_id % 11) != 3 AS md_ok,
                CASE WHEN (doc_id % 13) = 5 THEN NULL ELSE text END AS md_tx,
                (doc_id % 7) != 2 AS ocr_ok,
                left(text, CAST(floor(n_chars/2) AS INT)) AS ocr_tx
              FROM documents),
            stacked AS (
              SELECT doc_id, 'md' AS w, trim(md_tx, '{PYWS}') AS tx FROM base
              UNION ALL
              SELECT doc_id, 'ocr' AS w, trim(ocr_tx, '{PYWS}') AS tx FROM base),
            q AS (
              SELECT doc_id, w,
                CASE WHEN tx IS NULL OR length(tx)=0 THEN 0.0 ELSE
                  (least(length(tx)/1000.0,10.0)*10.0*0.3
                   + least(least(length(regexp_extract_all(tx,'(?m)^#+[{CLS}]'))*5.0,30.0)
                         + least(length(regexp_extract_all(tx,'(?m)^[-*•][{CLS}]|^\\p{{Nd}}+\\.[{CLS}]'))*2.0,20.0)
                         + least((length(regexp_extract_all(tx,'\\n[{CLS}]*\\n'))+1)*1.0,20.0)
                         + least(length(list_filter(string_split(tx,chr(10)),x->trim(x, '{PYWS}')!=''))*0.5,30.0),100.0)*0.4
                   + least(length(list_distinct(string_split(replace(replace(lower(tx),' ',''),chr(10),''),'')))*2.0,100.0)*0.3)
                  * (CASE WHEN length(regexp_extract_all(tx,'[^{W}{CLS}\\n.,!?;:()\\[\\]{{}}""-]'))*1.0/length(tx) > 0.05 THEN 0.9 ELSE 1.0 END)
                  * (CASE WHEN length(regexp_extract_all(tx,'[{W}]+')) > 0
                           AND length(list_filter(regexp_extract_all(tx,'[{W}]+'), ww -> length(ww) = 1))*1.0
                               / length(regexp_extract_all(tx,'[{W}]+')) > 0.3
                          THEN 0.7 ELSE 1.0 END)
                END AS ts
              FROM stacked),
            j AS (
              SELECT b.doc_id,
                COALESCE(b.md_ok AND b.md_tx IS NOT NULL AND length(b.md_tx) > 0, FALSE) AS md_avail,
                COALESCE(b.ocr_ok AND b.ocr_tx IS NOT NULL AND length(b.ocr_tx) > 0, FALSE) AS ocr_avail,
                qm.ts * CASE b.ext WHEN '.docx' THEN 1.3 WHEN '.pdf' THEN 0.8
                                   WHEN '.html' THEN 1.2 ELSE 1.0 END AS md_raw,
                qo.ts * CASE b.ext WHEN '.jpg' THEN 1.5 WHEN '.pdf' THEN 1.1
                                   ELSE 1.0 END AS ocr_raw
              FROM base b
              JOIN q qm ON qm.doc_id = b.doc_id AND qm.w = 'md'
              JOIN q qo ON qo.doc_id = b.doc_id AND qo.w = 'ocr'),
            f AS (
              SELECT doc_id, md_avail, ocr_avail,
                CASE WHEN md_avail AND ocr_avail THEN floor(md_raw*10000 + 0.5)/10000.0 ELSE 0.0 END AS md_score,
                CASE WHEN md_avail AND ocr_avail THEN floor(ocr_raw*10000 + 0.5)/10000.0 ELSE 0.0 END AS ocr_score
              FROM j)
            SELECT doc_id,
              CASE WHEN md_avail AND NOT ocr_avail THEN 'markitdown'
                   WHEN ocr_avail AND NOT md_avail THEN 'ocr'
                   WHEN NOT md_avail AND NOT ocr_avail THEN 'ocr'
                   WHEN md_score > ocr_score THEN 'markitdown' ELSE 'ocr' END AS chosen_method,
              CASE WHEN md_avail AND NOT ocr_avail THEN 'Only MarkItDown succeeded'
                   WHEN ocr_avail AND NOT md_avail THEN 'Only OCR succeeded'
                   WHEN NOT md_avail AND NOT ocr_avail THEN 'Both methods failed'
                   WHEN md_score > ocr_score THEN
                     'MarkItDown scored ' || {f1_md} || ' vs OCR ' || {f1_ocr}
                     || ' (+' || {f1_md_diff} || ')'
                   ELSE
                     'OCR scored ' || {f1_ocr} || ' vs MarkItDown ' || {f1_md}
                     || ' (+' || {f1_ocr_diff} || ')'
              END AS selection_reason,
              md_score AS markitdown_score, ocr_score AS ocr_score,
              md_avail AS markitdown_available, ocr_avail AS ocr_available
            FROM f
        """),
        "stopword_quality": """
            WITH r AS (
              SELECT lang,
                floor((CASE WHEN length(regexp_extract_all(lower(text), '[\\p{L}\\p{N}_]+')) > 0
                     THEN length(list_filter(regexp_extract_all(lower(text), '[\\p{L}\\p{N}_]+'),
                                             w -> w IN ('the', 'a', 'an', 'and', 'or', 'but', 'of', 'to', 'in', 'on', 'at', 'for', 'with', 'by', 'from', 'as', 'is', 'are', 'was', 'were', 'be', 'been', 'it', 'its', 'this', 'that', 'these', 'those', 'he', 'she', 'they', 'we', 'you', 'i', 'not', 'no', 'do', 'does', 'did', 'have', 'has', 'had', 'will', 'would', 'can', 'could', 'their', 'his', 'her'))) * 1.0
                          / length(regexp_extract_all(lower(text), '[\\p{L}\\p{N}_]+'))
                     ELSE 0.0 END)*10000 + 0.5)/10000.0 AS sw
              FROM documents)
            SELECT lang, count(*) AS n_docs,
                   floor(avg(sw)*10000 + 0.5)/10000.0 AS avg_stopword_ratio,
                   CAST(sum(CASE WHEN sw >= 0.15 THEN 1 ELSE 0 END) AS BIGINT) AS prose_docs
            FROM r GROUP BY lang
        """,
        "near_dup_components": """
            WITH RECURSIVE sh AS (
              SELECT doc_id AS id,
                CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 5
                     THEN list_distinct(list_transform(
                            range(1, len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 3),
                            i -> array_to_string(regexp_split_to_array(trim(lower(text)), '\\s+')[i:i+4], ' ')))
                     ELSE [array_to_string(regexp_split_to_array(trim(lower(text)), '\\s+'), ' ')]
                END AS g
              FROM documents WHERE doc_id < 500),
            pairs AS (
              SELECT a.id AS id_a, b.id AS id_b
              FROM sh a JOIN sh b ON a.id < b.id
              WHERE len(list_intersect(a.g, b.g)) * 1.0
                    / len(list_distinct(a.g || b.g)) >= 0.6),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              SELECT src, dst FROM edges
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
              WHERE e.dst != r.src)
            SELECT CAST(src AS BIGINT) AS doc_id,
                   CAST(least(src, min(dst)) AS BIGINT) AS component
            FROM reach GROUP BY src
        """,
        "sessionize": """
            WITH tagged AS (
              SELECT user_id, ts, event_id,
                CASE WHEN lag(ts) OVER w IS NULL
                      OR CAST(floor(epoch(ts)) AS BIGINT)
                         - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                     THEN 1 ELSE 0 END AS is_new
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            seq AS (
              SELECT user_id, ts,
                sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM tagged),
            sess AS (
              SELECT user_id, session_seq, count(*) AS n_events,
                CAST(floor(epoch(max(ts))) AS BIGINT)
                - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_secs
              FROM seq GROUP BY user_id, session_seq)
            SELECT user_id, count(*) AS n_sessions,
                   CAST(sum(n_events) AS BIGINT) AS total_events,
                   CAST(max(n_events) AS BIGINT) AS max_session_events,
                   CAST(max(duration_secs) AS BIGINT) AS max_duration_secs
            FROM sess GROUP BY user_id
        """,
        "event_windows": """
            SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
                   time_bucket(INTERVAL '10 minutes', ts) + INTERVAL '10 minutes' AS window_end,
                   count(*) AS n_events,
                   floor(sum(value)*1000 + 0.5)/1000.0 AS total_value
            FROM events
            WHERE ts < TIMESTAMP '2024-01-04'
            GROUP BY 1, 2
        """,
        "topk_docs": """
            SELECT doc_id, n_chars FROM documents
            ORDER BY n_chars DESC, doc_id ASC LIMIT 10
        """,
        "anti_join": """
            SELECT n.n_name AS n_name, count(*) AS n_customers_without_orders
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
            GROUP BY n.n_name
        """,
        "exact_dedup": """
            SELECT count(*) AS total_docs,
                   count(DISTINCT md5(text)) AS distinct_texts,
                   count(*) - count(DISTINCT md5(text)) AS duplicate_docs
            FROM documents
        """,
        "normalized_dedup": """
            WITH g AS (
              SELECT trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9\\x{4e00}-\\x{9fff}]+', ' ', 'g'), '\\s+', ' ', 'g')) AS norm,
                     count(*) AS c
              FROM documents GROUP BY 1)
            SELECT count(*) AS n_groups,
                   CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS docs_in_dup_groups
            FROM g
        """,
        "token_stats": """
            SELECT lang,
                   CAST(sum(length(regexp_extract_all(text, '\\w+'))) AS BIGINT) AS total_tokens,
                   floor((sum(length(regexp_extract_all(text, '\\w+')))*1.0/count(*))*10000 + 0.5)/10000.0 AS avg_tokens
            FROM documents GROUP BY lang
        """,
        "bpe_tokens": """
            SELECT source,
                   CAST(sum(length(regexp_extract_all(text,
                     '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+'))) AS BIGINT) AS total_pretokens,
                   floor((sum(length(regexp_extract_all(text,
                     '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+')))*1.0/count(*))*10000 + 0.5)/10000.0 AS avg_pretokens
            FROM documents GROUP BY source
        """,
        "grouping_sets": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                    (o_orderstatus, o_orderpriority))
        """,
        "lang_id": """
            SELECT lang,
                   CASE WHEN length(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) > 0 THEN 'zh'
                        WHEN length(regexp_extract_all(lower(text), '\\b(the|and|of|to|in)\\b')) >= 3 THEN 'en'
                        ELSE 'other' END AS pred_lang,
                   count(*) AS n_docs
            FROM documents GROUP BY 1, 2
        """,
        "fingerprint": """
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split_regex(trim(text), '\\s+'),
                                      x -> CAST(length(x) AS BIGINT))),
                     (a,b) -> (a*31 + b) % 1000000007) AS fp
            FROM documents WHERE doc_id < 20
        """,
        "shingle_stats": """
            WITH t AS (
              SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
              FROM documents WHERE doc_id < 20)
            SELECT doc_id,
              CASE WHEN length(toks) >= 3 THEN
                length(list_distinct(list_transform(range(1, length(toks)-1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))
              ELSE 1 END AS n_shingles
            FROM t
        """,
        "similarity_bruteforce": _SIMILARITY_SQL,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
                   CAST(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3_topk": """
            SELECT o.o_orderkey, o.o_orderdate,
                   CAST(CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS revenue
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_orderkey, o.o_orderdate
            ORDER BY revenue DESC, o.o_orderkey ASC
            LIMIT 10
        """,
        "tpch_q5": """
            SELECT n.n_name,
                   CAST(CAST(sum(CAST(CAST(l.l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l.l_discount AS DECIMAL(18,4))) AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE) AS revenue
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON o.o_orderkey = l.l_orderkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON s.s_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'EUROPE'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n.n_name
            ORDER BY revenue DESC, n.n_name ASC
        """,
        "tpch_q17": """
            SELECT count(*) AS n_small_orders,
                   CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_brand = 'Brand#23' AND p.p_size <= 15
              AND 5 * l.l_quantity * (SELECT count(*) FROM lineitem l2
                                      WHERE l2.l_partkey = l.l_partkey)
                  < (SELECT sum(l2.l_quantity) FROM lineitem l2
                     WHERE l2.l_partkey = l.l_partkey)
        """,
        "pivot_lineitem": """
            SELECT l_returnflag,
                   sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS qty_open,
                   sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS qty_filled
            FROM lineitem GROUP BY l_returnflag
        """,
        "set_ops": """
            SELECT
              (SELECT count(*) FROM
                (SELECT c_custkey AS k FROM customer
                 INTERSECT SELECT o_custkey FROM orders) t1) AS n_with_orders,
              (SELECT count(*) FROM
                (SELECT c_custkey AS k FROM customer
                 EXCEPT ALL SELECT DISTINCT o_custkey FROM orders) t2) AS n_without_orders
        """,
        "semi_join": """
            SELECT o_orderstatus, count(*) AS n_orders
            FROM orders o
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
            GROUP BY o_orderstatus
        """,
        "date_trunc": """
            SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   count(*) AS n_events,
                   floor(sum(value)*10000 + 0.5)/10000.0 AS total_value
            FROM events GROUP BY 1
        """,
        "percentiles": """
            SELECT lang,
                   count(*) AS n_docs,
                   floor(quantile_cont(n_chars, 0.25) * 10000 + 0.5) / 10000.0 AS p25,
                   floor(quantile_cont(n_chars, 0.5)  * 10000 + 0.5) / 10000.0 AS p50,
                   floor(quantile_cont(n_chars, 0.9)  * 10000 + 0.5) / 10000.0 AS p90,
                   max(n_chars) AS max_chars
            FROM documents GROUP BY lang
        """,
        "window_rank": """
            SELECT o_orderkey, o_custkey,
                   rank() OVER w AS rnk,
                   dense_rank() OVER w AS drnk,
                   floor(percent_rank() OVER w * 1000000 + 0.5)/1000000.0 AS prnk,
                   floor(cume_dist() OVER w * 1000000 + 0.5)/1000000.0 AS cdist,
                   ntile(4) OVER w AS quartile,
                   floor(lead(o_totalprice) OVER w * 10000 + 0.5)/10000.0 AS next_price,
                   floor(lag(o_totalprice) OVER w * 10000 + 0.5)/10000.0 AS prev_price
            FROM orders
            WHERE o_custkey < 50
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_totalprice DESC, o_orderkey ASC)
        """,
        "window_range": """
            SELECT user_id, event_id,
                   floor(sum(value) OVER (
                       PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                       RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
                     * 10000 + 0.5) / 10000.0 AS hour_sum
            FROM events WHERE user_id < 10
        """,
        "stats_moments": """
            SELECT lang,
                   count(*) AS n_docs,
                   floor(stddev_samp(n_chars) * 10000 + 0.5) / 10000.0 AS sd_chars,
                   floor(var_samp(n_chars)    * 10000 + 0.5) / 10000.0 AS var_chars,
                   floor(corr(CAST(n_chars AS DOUBLE), CAST(length(text) AS DOUBLE))
                         * 10000 + 0.5) / 10000.0 AS corr_len
            FROM documents GROUP BY lang
        """,
        "json_extract": """
            SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_bucket,
                   count(*) AS n_events,
                   floor(avg(value)*10000 + 0.5)/10000.0 AS avg_value
            FROM events GROUP BY 1
        """,
        "window_running": """
            SELECT user_id, event_id,
                   floor(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)*10000 + 0.5)/10000.0 AS running_value
            FROM events WHERE user_id < 10
        """,
        "rollup_orders": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
            FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
    }
