"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator cores over the driver's
TPC-H-ish tables so DuckDB can verify them (CORRECTNESS gate):
- crawl-core operators (SURVEY.md §2 O1-O13) phrased over ``events`` as
  the pseudo-frontier (user_id≈host, ts≈discovery order, event_id≈url —
  FIXTURES.md §6),
- relational breadth (TPC-H q1/q3-like/q6),
- training-data pipeline ops (dedup exact/minhash-LSH/ngram-jaccard,
  similarity search, text analysis) over ``documents``/``embeddings``.

Numeric policy for cross-engine value-hash parity: money/value sums go
through decimal(18,x) (exact, identical in both engines) and are then
cast to double and rounded; ratios are rounded to 4 decimals; timestamps
are rendered as strings.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# crawl-core operator queries (events as pseudo-frontier)
# --------------------------------------------------------------------------

def q_frontier_budget_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 frontier dequeue: per-host FIFO rank, budget k=5."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("user_id", "event_id", "rn")
    )


def q_politeness_vt_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 virtual-time politeness: fetch_vt=(rn-1)*2000, window 8000ms →
    per-host fetched/deferred counts."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sched = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "fetch_vt", (F.col("rn") - 1).cast("long") * 2000
    )
    return sched.groupBy("user_id").agg(
        F.sum(F.when(F.col("fetch_vt") < 8000, 1).otherwise(0)).alias("fetched"),
        F.sum(F.when(F.col("fetch_vt") >= 8000, 1).otherwise(0)).alias("deferred"),
    )


def q_frontier_antijoin_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4/O10 seen-set anti-join: click events from hosts never seen
    purchasing."""
    ev = _t(spark, sf_dir, "events")
    seen = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return (
        ev.filter(F.col("event_type") == "click")
        .join(seen, "user_id", "left_anti")
        .select("event_id", "user_id")
    )


def q_visited_topk_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k hosts by visit count, deterministic tie-break."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(10)
    )


def q_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 metrics rollup: per event_type × hour counts + value sums."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd HH").alias("hour")
    ).agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
        ).alias("total_value"),
    )


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O9 canonicalization (JVM-built-in subset): lowercase scheme+host,
    strip default port + fragment, over pseudo-URLs built from documents."""
    d = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.lit("HTTP://"), F.upper(F.col("source")), F.lit(".EXAMPLE:80/d/"),
        F.col("doc_id").cast("string"), F.lit("#sec"), F.col("doc_id").cast("string"),
    )
    # default-port strip anchored to the http authority (http://host:80/),
    # matching canon.py exactly: :80 is default only for the http scheme
    # (canon strips :443 for https the same way), and a path CONTAINING
    # the literal ':80/' is untouched
    canon = F.regexp_replace(
        F.regexp_replace(F.lower(dirty), "#.*$", ""),
        "^(http://[^/]*):80(/|$)", "$1$2",
    )
    return d.select("doc_id", canon.alias("canon_url"))


def q_frontier_union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10 union + dedup: merge two candidate streams, count per host."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id", "event_id")
    b = ev.filter(F.col("value") > 150).select("user_id", "event_id")
    return (
        a.unionByName(b).dropDuplicates(["event_id"])
        .groupBy("user_id").agg(F.count("*").alias("n"))
    )


def q_seed_first_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 seed semantics: first event per host in (ts, event_id) order."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
        .select(
            "user_id",
            F.col("event_id").alias("first_event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        )
    )


# --------------------------------------------------------------------------
# relational breadth (TPC-H adapted to the driver's schema)
# --------------------------------------------------------------------------

def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    d = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(9,4)")
    tax = F.col("l_tax").cast("decimal(9,4)")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
            F.sum(d).cast("double").alias("sum_base_price"),
            F.sum(d * (F.lit(1).cast("decimal(9,4)") - disc)).cast("double").alias("sum_disc_price"),
            F.sum(d * (F.lit(1).cast("decimal(9,4)") - disc) * (F.lit(1).cast("decimal(9,4)") + tax))
            .cast("double").alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q3-like shipping priority (o_orderpriority replaces o_shippriority,
    which the driver's schema lacks). Broadcast the small dim (customer)."""
    cu = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-03-15")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-03-15")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(9,4)") - F.col("l_discount").cast("decimal(9,4)")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cu), o.o_custkey == cu.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(18,4)")
            ).cast("double").alias("revenue"),
            F.count("*").alias("n_rows"),
        )
    )


# --------------------------------------------------------------------------
# training-data pipeline ops (documents / embeddings)
# --------------------------------------------------------------------------

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pegasus_spark.functions.textops import quality_metrics

    return quality_metrics(_t(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pegasus_spark.functions.textops import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fp")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pegasus_spark.functions.textops import exact_dedup_groups

    return exact_dedup_groups(_t(spark, sf_dir, "documents"))


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pegasus_spark.functions.textops import langid_heuristic

    return langid_heuristic(_t(spark, sf_dir, "documents"))


def q_token_counts_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pegasus_spark.functions.textops import token_count

    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(token_count(F.col("text")).cast("long")).alias("total_tokens"),
        F.count("*").alias("docs"),
    )


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budget under the BPE-ish pretokenizer regex
    (textops.bpe_token_count) — the second token-counting mode next to
    whitespace counts; same pattern rendered verbatim into the DuckDB
    oracle (leftmost-first alternation in both engines)."""
    from pegasus_spark.functions.textops import bpe_token_count

    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(bpe_token_count(F.col("text")).cast("long")).alias("total_bpe_tokens"),
        F.count("*").alias("docs"),
    )


def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/Dolma-style repetition filters (dup-line fraction,
    top-bigram occurrence share) — see textops.repetition_metrics."""
    from pegasus_spark.functions.textops import repetition_metrics

    return repetition_metrics(_t(spark, sf_dir, "documents"))


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pegasus_spark.functions.textops import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pegasus_spark.functions.textops import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


def q_embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs the vec_id=0 query vector (declarative
    cross-join form so the oracle is pure SQL)."""
    from pegasus_spark.functions.simops import cosine_col

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    q = e.filter("vec_id = 0").select(F.col("emb").alias("qe"))
    return (
        e.filter("vec_id != 0")
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine_col(F.col("emb"), F.col("qe")), 4).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
    )


def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pegasus_spark.functions.simops import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.3)


def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures from md5 token halves (two 32-bit longs —
    DuckDB-expressible, so this is a full value-checked entry)."""
    from pegasus_spark.functions.simops import simhash_md5

    return simhash_md5(_t(spark, sf_dir, "documents")).select(
        "doc_id", "sim_lo", "sim_hi"
    )


def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming near-dup over the md5 simhash: banded bucket join +
    bit_count verify, fully value-checked cross-engine
    (simops.simhash_md5_near_dup_pairs)."""
    from pegasus_spark.functions.simops import simhash_md5_near_dup_pairs

    return simhash_md5_near_dup_pairs(
        _t(spark, sf_dir, "documents"), max_hamming=7, band_bits=8)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING — the step after pair generation a real dedup
    pipeline needs: connected components over the simhash near-dup graph
    (min-label propagation, graphops.connected_components), every doc
    labelled with its component's min doc_id, singletons by themselves,
    plus the keep/drop decision (is_canonical). Oracle: the same
    fixpoint as a DuckDB recursive CTE over the identical pair SQL."""
    from pegasus_spark.functions.graphops import dedup_clusters
    from pegasus_spark.functions.simops import simhash_md5_near_dup_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = simhash_md5_near_dup_pairs(d, max_hamming=7, band_bits=8)
    return dedup_clusters(d, pairs)


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering as ``dedup_clusters`` but through the
    large-star/small-star alternation (graphops.connected_components_star
    — Kiveris et al. SoCC'14), the O(log n)-round scale path for
    adversarial long-chain graphs. Both methods converge to the
    min-vertex-id fixpoint, so this shares the recursive-CTE oracle —
    the star implementation is value-checked cross-engine end to end."""
    from pegasus_spark.functions.graphops import dedup_clusters
    from pegasus_spark.functions.simops import simhash_md5_near_dup_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = simhash_md5_near_dup_pairs(d, max_hamming=7, band_bits=8)
    return dedup_clusters(d, pairs, method="star")


def q_embedding_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """phash-style banded Hamming near-dup over the 64-plane projection
    signature of embeddings — integer-exact end to end, so the verify
    step (bit_count) has no float-comparison ambiguity cross-engine."""
    from pegasus_spark.functions.simops import (
        hamming_band_pairs_2x32,
        signed_projection_sig64_udf,
    )

    e = _t(spark, sf_dir, "embeddings")
    # the numpy-int64-matmul UDF is the 100 TB form AND bit-identical to
    # the JVM posexplode twin (exact integer arithmetic; equality pinned
    # by test_sig64_udf_matches_jvm_form) — the DuckDB oracle value-checks
    # it end to end. The JVM twin cost ~5 s here (dim×64 row inflation
    # through two shuffles); this is one linear Arrow pass.
    sigs = signed_projection_sig64_udf(e, _ANN_DIM).localCheckpoint(eager=True)
    # max_hamming=15 needs ≥16 bands (pigeonhole) → 4-bit bands; a
    # tighter 8-band/8-bit variant would be cheaper but provably empty on
    # this data (min pairwise sig64 distance is 10-13 at sf0.01/0.1)
    return hamming_band_pairs_2x32(
        sigs, "vec_id", "sig_lo", "sig_hi", max_hamming=15, band_bits=4
    )


def q_phash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-phash near-dup operator (simops.phash_near_dup_pairs —
    the banded Hamming join over the phash's two 32-bit halves, 8 bands
    of 8 bits at max_hamming=6) value-checked cross-engine against an
    all-pairs oracle, so the check covers recall too. The query test
    data carries no images, so the 64-bit phash stand-in is derived
    deterministically from the documents' md5-twin simhash halves
    (sim_hi<<32 | sim_lo) — locality-preserving, so near-dup texts land
    at small Hamming distance and the exact banding/verify machinery the
    image path uses is exercised end to end."""
    from pegasus_spark.functions.simops import phash_near_dup_pairs, simhash_md5

    d = _t(spark, sf_dir, "documents")
    sigs = simhash_md5(d).select(
        F.col("doc_id").alias("image_id"),
        F.shiftleft("sim_hi", 32).bitwiseOR(F.col("sim_lo")).alias("phash"),
    ).localCheckpoint(eager=True)
    return phash_near_dup_pairs(sigs, max_hamming=6)


_NEAR_DUP_LSH_PLANES = 4  # 16 buckets over the testdata's 500 vectors


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs blocked on a COMPUTED LSH bucket (not the label
    column): signed_projection_bucket output wired in as ``block_col`` —
    the end-to-end form the 100 TB path uses, value-checked against a
    DuckDB twin that recomputes the same buckets from literal planes."""
    from pegasus_spark.functions.simops import (
        embedding_near_dup_pairs,
        signed_projection_bucket,
    )

    e = _t(spark, sf_dir, "embeddings")
    b = signed_projection_bucket(e, _ANN_DIM, n_planes=_NEAR_DUP_LSH_PLANES)
    # the bucket aggregation (posexplode + groupBy + join-back) would
    # otherwise execute inside BOTH sides of the pair self-join;
    # materialize it once. At scale the bucket column is persisted at
    # write time (partition-by-bucket layout) — this is the query-local
    # analogue of that.
    b = b.select("vec_id", "label", "embedding", "bucket").localCheckpoint(eager=True)
    return embedding_near_dup_pairs(b, threshold=0.2, block_col="bucket")


_ANN_DIM, _ANN_PLANES = 64, 8  # driver testdata embeddings are 64-dim


def q_ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN bucketing via deterministic ±1 projections in exact decimal
    arithmetic (JVM built-ins, no UDF) — bucket histogram. The planes are
    rendered as literals into the DuckDB oracle, so this is value-checked
    end to end."""
    from pegasus_spark.functions.simops import signed_projection_bucket

    e = _t(spark, sf_dir, "embeddings")
    # the oracle renders _ANN_DIM-sized plane literals — longer embeddings
    # would be silently truncated on both sides (parity would mask it), so
    # fail loudly on a dim mismatch instead (one 1-row probe)
    probe = e.select(F.size("embedding").alias("d")).limit(1).collect()
    if probe and int(probe[0]["d"]) != _ANN_DIM:
        raise ValueError(
            f"embeddings dim {int(probe[0]['d'])} != _ANN_DIM={_ANN_DIM}; "
            "regenerate the oracle planes for this dim"
        )
    return (
        signed_projection_bucket(e, _ANN_DIM, n_planes=_ANN_PLANES)
        .groupBy("bucket").agg(F.count("*").alias("n"))
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: coarse-quantize every embedding to its nearest sampled
    centroid (8 cells), probe the 2 cells nearest the vec_id=0 query,
    exact cosine top-k within the probed slice (simops.ivf_topk). Every
    comparison is over round(cos, 4) of the sequential-fold double dot
    product both engines share, ties by cell id — so the argmax-based
    assignment is value-checked cross-engine, not just the final list."""
    from pegasus_spark.functions.simops import ivf_topk

    return ivf_topk(_t(spark, sf_dir, "embeddings"),
                    k=10, n_cells=8, n_probe=2, query_id=0)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the crawl engine's politeness-schedule core over the
    sf0.001 pseudo-frontier."""
    return q_politeness_vt_schedule(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "frontier_budget_rank": q_frontier_budget_rank,
        "politeness_vt_schedule": q_politeness_vt_schedule,
        "frontier_antijoin_dedup": q_frontier_antijoin_dedup,
        "visited_topk_hosts": q_visited_topk_hosts,
        "metrics_rollup": q_metrics_rollup,
        "url_canonicalize": q_url_canonicalize,
        "frontier_union_dedup": q_frontier_union_dedup,
        "seed_first_discovery": q_seed_first_discovery,
        "tpch_q1": q_tpch_q1,
        "tpch_q3": q_tpch_q3,
        "tpch_q6": q_tpch_q6,
        "text_quality": q_text_quality,
        "doc_fingerprint": q_doc_fingerprint,
        "dedup_exact": q_dedup_exact,
        "langid": q_langid,
        "token_counts_by_source": q_token_counts_by_source,
        "bpe_token_counts": q_bpe_token_counts,
        "repetition_metrics": q_repetition_metrics,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "embedding_cosine_topk": q_embedding_cosine_topk,
        "embedding_near_dup_pairs": q_embedding_near_dup_pairs,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "simhash_signatures": q_simhash_signatures,
        "simhash_near_dup_pairs": q_simhash_near_dup_pairs,
        "dedup_clusters": q_dedup_clusters,
        "dedup_clusters_star": q_dedup_clusters_star,
        "embedding_hamming_pairs": q_embedding_hamming_pairs,
        "phash_near_dup_pairs": q_phash_near_dup_pairs,
        "ann_lsh_bucket": q_ann_lsh_bucket,
        "ann_ivf_topk": q_ann_ivf_topk,
    }


_SHINGLES = (
    "list_distinct(CASE WHEN len(w) >= 3 THEN "
    "list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) "
    "ELSE [array_to_string(w, ' ')] END)"
)
_MD5INT = "CAST(CONCAT('0x', substr(md5({0}), 1, 8)) AS BIGINT)"


def oracle_sql() -> dict[str, str]:
    from pegasus_spark.functions.textops import MINHASH_AB, MINHASH_P

    # mh_i = min over shingles of (a_i·h + b_i) mod p, h = ONE md5-int per
    # shingle — the exact integer mixing the Spark side uses (textops._mix)
    mh = {
        i: f"list_min(list_transform(hs, h -> ({MINHASH_AB[i][0]} * h + {MINHASH_AB[i][1]}) % {MINHASH_P}))"
        for i in range(8)
    }
    return {
        "frontier_budget_rank": """
            SELECT user_id, event_id, rn FROM (
              SELECT user_id, event_id,
                     row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
              FROM events) WHERE rn <= 5
        """,
        "politeness_vt_schedule": """
            WITH s AS (
              SELECT user_id,
                     (row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1) * 2000 AS fetch_vt
              FROM events)
            SELECT user_id,
                   CAST(SUM(CASE WHEN fetch_vt < 8000 THEN 1 ELSE 0 END) AS BIGINT) AS fetched,
                   CAST(SUM(CASE WHEN fetch_vt >= 8000 THEN 1 ELSE 0 END) AS BIGINT) AS deferred
            FROM s GROUP BY user_id
        """,
        "frontier_antijoin_dedup": """
            SELECT event_id, user_id FROM events e
            WHERE event_type = 'click'
              AND NOT EXISTS (SELECT 1 FROM events p
                              WHERE p.event_type = 'purchase' AND p.user_id = e.user_id)
        """,
        "visited_topk_hosts": """
            SELECT user_id, COUNT(*) AS n_events FROM events
            GROUP BY user_id ORDER BY n_events DESC, user_id ASC LIMIT 10
        """,
        "metrics_rollup": """
            SELECT event_type, strftime(ts, '%Y-%m-%d %H') AS hour, COUNT(*) AS n,
                   ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "url_canonicalize": """
            SELECT doc_id,
                   regexp_replace(regexp_replace(
                     lower('HTTP://' || upper(source) || '.EXAMPLE:80/d/' || doc_id || '#sec' || doc_id),
                     '#.*$', ''), '^(http://[^/]*):80(/|$)', '\\1\\2') AS canon_url
            FROM documents
        """,
        "frontier_union_dedup": """
            WITH u AS (
              SELECT user_id, event_id FROM events WHERE event_type = 'click'
              UNION
              SELECT user_id, event_id FROM events WHERE value > 150)
            SELECT user_id, COUNT(*) AS n FROM u GROUP BY user_id
        """,
        "seed_first_discovery": """
            SELECT user_id, event_id AS first_event_id,
                   strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
            FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) rn
                  FROM events) WHERE rn = 1
        """,
        "tpch_q1": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))
                        * (CAST(1 AS DECIMAL(9,4)) + CAST(l_tax AS DECIMAL(9,4)))) AS DOUBLE) AS sum_charge,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_q3": """
            SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                   o_orderpriority,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(9,4)) - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                 JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1997-03-15'
              AND l_shipdate > TIMESTAMP '1997-03-15'
            GROUP BY 1, 2, 3 ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
        """,
        "tpch_q6": """
            SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                   COUNT(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_discount >= 0.02 AND l_discount <= 0.06 AND l_quantity < 24
        """,
        "text_quality": """
            WITH t AS (SELECT doc_id, text,
                              string_split_regex(lower(trim(text)), '\\s+') AS w
                       FROM documents)
            SELECT doc_id, len(w) AS n_tokens,
                   ROUND(len(regexp_replace(text, '\\s+', '', 'g')) / GREATEST(len(w), 1), 4) AS mean_token_len,
                   ROUND((len(text) - len(regexp_replace(text, '[^\\w\\s]', '', 'g'))) / GREATEST(len(text), 1), 4) AS punct_ratio,
                   ROUND(len(list_intersect(list_distinct(w), ['the','a','of','and','to','in'])) / GREATEST(len(w), 1), 4) AS stopword_ratio,
                   len(w) >= 5 AS len_ok
            FROM t
        """,
        "doc_fingerprint": """
            SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "dedup_exact": """
            SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
                   MIN(doc_id) AS keeper, COUNT(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "langid": """
            WITH t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS t FROM documents),
            s AS (SELECT doc_id,
                   CAST((len(t) - len(replace(t, ' the ', ''))) / 5
                      + (len(t) - len(replace(t, ' and ', ''))) / 5
                      + (len(t) - len(replace(t, ' of ', ''))) / 4 AS INT) AS en_score,
                   CAST((len(t) - len(replace(t, ' el ', ''))) / 4
                      + (len(t) - len(replace(t, ' la ', ''))) / 4
                      + (len(t) - len(replace(t, ' de ', ''))) / 4 AS INT) AS es_score,
                   CAST((len(t) - len(replace(t, ' le ', ''))) / 4
                      + (len(t) - len(replace(t, ' et ', ''))) / 4
                      + (len(t) - len(replace(t, ' des ', ''))) / 5 AS INT) AS fr_score
                  FROM t)
            SELECT doc_id, en_score, es_score, fr_score,
                   CASE WHEN en_score >= es_score AND en_score >= fr_score AND en_score > 0 THEN 'en'
                        WHEN es_score >= fr_score AND es_score > 0 THEN 'es'
                        WHEN fr_score > 0 THEN 'fr'
                        ELSE 'other' END AS pred_lang
            FROM s
        """,
        "token_counts_by_source": """
            SELECT source,
                   CAST(SUM(len(string_split_regex(lower(trim(text)), '\\s+'))) AS BIGINT) AS total_tokens,
                   COUNT(*) AS docs
            FROM documents GROUP BY source
        """,
        "bpe_token_counts": _bpe_token_oracle(),
        "repetition_metrics": f"""
            WITH lines AS (
              SELECT doc_id,
                     list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                                 l -> l <> '') AS ls
              FROM documents),
            base AS (
              SELECT doc_id, len(ls) AS n_lines,
                     ROUND((len(ls) - len(list_distinct(ls))) / GREATEST(len(ls), 1), 4)
                       AS dup_line_frac
              FROM lines),
            grams AS (
              SELECT doc_id,
                     CASE WHEN len(w) >= 2
                          THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                          ELSE [array_to_string(w, ' ')] END AS gs
              FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w
                    FROM documents)),
            counts AS (
              SELECT doc_id, {_MD5INT.format('g')} AS h, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(gs) AS g FROM grams) GROUP BY 1, 2),
            shares AS (
              SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
                     ROUND(MAX(c) / SUM(c), 4) AS top_bigram_share
              FROM counts GROUP BY 1)
            SELECT base.doc_id, n_lines, dup_line_frac, n_bigrams, top_bigram_share
            FROM base JOIN shares ON base.doc_id = shares.doc_id
        """,
        "ngram_jaccard_pairs": f"""
            WITH base AS (
              SELECT doc_id, md5(array_to_string(w[1:4], ' ')) AS block,
                     {_SHINGLES} AS sh
              FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents)),
            ex AS (
              SELECT DISTINCT doc_id, block, {_MD5INT.format('s')} AS h
              FROM (SELECT doc_id, block, unnest(sh) AS s FROM base)),
            sizes AS (SELECT doc_id, block, COUNT(*) AS n FROM ex GROUP BY 1, 2),
            pairs AS (
              SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, sa.n AS na, sb.n AS nb
              FROM sizes sa JOIN sizes sb ON sa.block = sb.block AND sa.doc_id < sb.doc_id),
            inter AS (
              SELECT xa.doc_id AS doc_a, xb.doc_id AS doc_b, COUNT(*) AS ni
              FROM ex xa JOIN ex xb
                ON xa.block = xb.block AND xa.h = xb.h AND xa.doc_id < xb.doc_id
              GROUP BY 1, 2)
            SELECT p.doc_a, p.doc_b,
                   ROUND(COALESCE(i.ni, 0) / GREATEST(p.na + p.nb - COALESCE(i.ni, 0), 1), 4) AS jaccard
            FROM pairs p LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
        """,
        "minhash_lsh_pairs": f"""
            WITH base AS (
              SELECT doc_id, {_SHINGLES} AS sh
              FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS w FROM documents)),
            hbase AS (SELECT doc_id, list_transform(sh, s -> {_MD5INT.format('s')}) AS hs FROM base),
            sig AS (SELECT doc_id, {mh[0]} mh0, {mh[1]} mh1, {mh[2]} mh2, {mh[3]} mh3,
                           {mh[4]} mh4, {mh[5]} mh5, {mh[6]} mh6, {mh[7]} mh7 FROM hbase),
            bands AS (
              SELECT doc_id, 0 AS band_id, CONCAT(mh0, ',', mh1) AS band_hash FROM sig
              UNION ALL SELECT doc_id, 1, CONCAT(mh2, ',', mh3) FROM sig
              UNION ALL SELECT doc_id, 2, CONCAT(mh4, ',', mh5) FROM sig
              UNION ALL SELECT doc_id, 3, CONCAT(mh6, ',', mh7) FROM sig)
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        """,
        "embedding_cosine_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            q AS (SELECT emb AS qe FROM e WHERE vec_id = 0)
            SELECT vec_id, ROUND(list_cosine_similarity(emb, qe), 4) AS cos
            FROM e, q WHERE vec_id != 0
            ORDER BY cos DESC, vec_id ASC LIMIT 10
        """,
        "embedding_near_dup_pairs": """
            WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(a.emb, b.emb), 4) AS cos
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 4) >= 0.3
        """,
        "ann_lsh_bucket": _ann_oracle(),
        "ann_ivf_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
            cents AS (SELECT vec_id AS cell_id, emb AS cemb FROM e
                      ORDER BY vec_id LIMIT 8),
            q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
            assign AS (
              SELECT vec_id, cell_id AS cell FROM (
                SELECT e.vec_id, c.cell_id,
                       ROW_NUMBER() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY ROUND(list_cosine_similarity(e.emb, c.cemb), 4) DESC,
                                  c.cell_id ASC) AS rn
                FROM e, cents c) WHERE rn = 1),
            probed AS (
              SELECT cell_id FROM cents, q
              ORDER BY ROUND(list_cosine_similarity(cemb, qe), 4) DESC, cell_id ASC
              LIMIT 2)
            SELECT a.vec_id, a.cell,
                   ROUND(list_cosine_similarity(e.emb, q.qe), 4) AS cos
            FROM assign a
            JOIN probed p ON a.cell = p.cell_id
            JOIN e ON e.vec_id = a.vec_id, q
            WHERE a.vec_id != 0
            ORDER BY cos DESC, a.vec_id ASC LIMIT 10
        """,
        "embedding_near_dup_lsh": _near_dup_lsh_oracle(),
        "simhash_signatures": _simhash_oracle(),
        "simhash_near_dup_pairs": _simhash_near_dup_oracle(),
        "dedup_clusters": _dedup_clusters_oracle(),
        "dedup_clusters_star": _dedup_clusters_oracle(),
        "embedding_hamming_pairs": _embedding_hamming_oracle(),
        "phash_near_dup_pairs": _phash_near_dup_oracle(),
    }


def _bucket_cte(n_planes: int) -> str:
    """Shared DuckDB CTE chain computing (vec_id, bucket) via the same
    deterministic ±1 planes as ``signed_projection_bucket``: planes are
    literal arrays, the projection a quantize-to-int64 + exact integer
    SUM — order independent, so the sign test matches Spark bit-for-bit."""
    from pegasus_spark.functions.simops import rademacher_signs

    signs = rademacher_signs(_ANN_DIM, n_planes)
    values = ", ".join(
        f"({j}, [{', '.join(str(s) for s in signs[j])}])"
        for j in range(n_planes)
    )
    return f"""
        ex AS (
          SELECT vec_id,
                 CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        planes AS (
          SELECT j, unnest(sv) AS s, generate_subscripts(sv, 1) AS i
          FROM (VALUES {values}) t(j, sv)),
        proj AS (
          SELECT vec_id, j,
                 CAST(SUM(q * s) AS BIGINT) AS pr
          FROM ex JOIN planes USING (i) GROUP BY 1, 2),
        b AS (
          SELECT vec_id,
                 CAST(SUM(CASE WHEN pr > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS bucket
          FROM proj GROUP BY 1)"""


def _ann_oracle() -> str:
    return f"""
        WITH {_bucket_cte(_ANN_PLANES)}
        SELECT bucket, COUNT(*) AS n FROM b GROUP BY 1
    """


def _near_dup_lsh_oracle() -> str:
    return f"""
        WITH {_bucket_cte(_NEAR_DUP_LSH_PLANES)},
        e AS (
          SELECT vec_id, bucket, embedding::DOUBLE[] AS emb
          FROM embeddings JOIN b USING (vec_id))
        SELECT a.vec_id AS id_a, c.vec_id AS id_b,
               ROUND(list_cosine_similarity(a.emb, c.emb), 4) AS cos
        FROM e a JOIN e c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
        WHERE ROUND(list_cosine_similarity(a.emb, c.emb), 4) >= 0.2
    """


def _simhash_cte() -> str:
    """Shared CTE chain ending in ``sg(doc_id, sim_lo, sim_hi)`` —
    simhash_md5's twin: tokenization, the two 32-bit md5 halves, 64
    sign-sums and the bit assembly all in DuckDB SQL — generated column
    lists, no 64-line hand-transcription to drift."""
    sums = ",\n                 ".join(
        f"SUM(CASE WHEN (h{half} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{half}_{b}"
        for half in ("lo", "hi")
        for b in range(32)
    )

    def assemble(half: str) -> str:
        return " + ".join(
            f"(CASE WHEN s_{half}_{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE 0 END)"
            for b in range(32)
        )

    return f"""
        tok AS (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t
          FROM documents),
        h AS (
          SELECT doc_id,
                 {_MD5INT.format('t')} AS hlo,
                 CAST(CONCAT('0x', substr(md5(t), 9, 8)) AS BIGINT) AS hhi
          FROM tok WHERE t != ''),
        s AS (
          SELECT doc_id,
                 {sums}
          FROM h GROUP BY doc_id),
        sig AS (
          SELECT doc_id,
                 CAST({assemble('lo')} AS BIGINT) AS sim_lo,
                 CAST({assemble('hi')} AS BIGINT) AS sim_hi
          FROM s),
        sg AS (
          SELECT d.doc_id,
                 COALESCE(sig.sim_lo, 0) AS sim_lo,
                 COALESCE(sig.sim_hi, 0) AS sim_hi
          FROM documents d LEFT JOIN sig ON d.doc_id = sig.doc_id)"""


def _simhash_oracle() -> str:
    return f"""
        WITH {_simhash_cte()}
        SELECT doc_id, sim_lo, sim_hi FROM sg
    """


def _hamming_pairs_sql(sig_cte: str, sig_rel: str, id_col: str,
                       lo: str, hi: str, n_bands: int, band_bits: int,
                       max_hamming: int, out_a: str, out_b: str) -> str:
    """Banded-Hamming pairs over a (id, lo, hi) signature relation —
    the DuckDB twin of simops.hamming_band_pairs_2x32 (band explosion
    via a range cross join, verify via integer bit_count/xor)."""
    per_half = n_bands // 2
    mask = (1 << band_bits) - 1
    return f"""
        WITH {sig_cte},
        bands AS (
          SELECT {id_col}, {lo}, {hi}, t.b AS band_id,
                 CASE WHEN t.b < {per_half}
                      THEN ({lo} >> (CAST(t.b AS INT) * {band_bits})) & {mask}
                      ELSE ({hi} >> ((CAST(t.b AS INT) - {per_half}) * {band_bits})) & {mask}
                 END AS band_val
          FROM {sig_rel} CROSS JOIN range({n_bands}) t(b))
        SELECT DISTINCT a.{id_col} AS {out_a}, c.{id_col} AS {out_b},
               CAST(bit_count(xor(a.{lo}, c.{lo}))
                  + bit_count(xor(a.{hi}, c.{hi})) AS BIGINT) AS hamming
        FROM bands a JOIN bands c
          ON a.band_id = c.band_id AND a.band_val = c.band_val
         AND a.{id_col} < c.{id_col}
        WHERE CAST(bit_count(xor(a.{lo}, c.{lo}))
                 + bit_count(xor(a.{hi}, c.{hi})) AS BIGINT) <= {max_hamming}
    """


def _simhash_near_dup_oracle() -> str:
    return _hamming_pairs_sql(
        _simhash_cte(), "sg", "doc_id", "sim_lo", "sim_hi",
        n_bands=8, band_bits=8, max_hamming=7, out_a="doc_a", out_b="doc_b",
    )


def _bpe_token_oracle() -> str:
    """The SAME pretokenizer pattern textops.bpe_token_count compiles on
    the JVM, rendered verbatim for RE2 (both engines use leftmost-first
    alternation; the pattern avoids lookahead and \\s on purpose —
    textops._BPE_RE docstring has the portability argument)."""
    from pegasus_spark.functions.textops import _BPE_RE

    pat = _BPE_RE.replace("'", "''")
    return f"""
        SELECT source,
               CAST(SUM(len(regexp_extract_all(text, '{pat}'))) AS BIGINT)
                 AS total_bpe_tokens,
               COUNT(*) AS docs
        FROM documents GROUP BY source
    """


def _dedup_clusters_oracle() -> str:
    """Connected components over the simhash near-dup pair graph as a
    recursive CTE: reach(node, root) is the transitive closure over the
    bidirected edge set; MIN(root) per node is exactly the min-label
    fixpoint graphops.connected_components converges to, so the cluster
    ids match the Spark side value-for-value with no iteration-order
    ambiguity. Docs in no pair are singleton clusters of themselves."""
    pair_sql = _simhash_near_dup_oracle()
    return f"""
        WITH RECURSIVE pairs AS (
          SELECT doc_a, doc_b FROM ({pair_sql})
        ),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION
          SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, root) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node
        ),
        comp AS (
          SELECT node, MIN(root) AS cluster_id FROM reach GROUP BY node
        )
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               (d.doc_id = COALESCE(c.cluster_id, d.doc_id)) AS is_canonical
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
    """


def _sig64_cte() -> str:
    """CTE chain ending in ``sg(vec_id, sig_lo, sig_hi)`` — the DuckDB
    twin of simops.signed_projection_sig64: 64 literal ±1 planes, exact
    integer projection sums, sign bits split across two 32-bit longs."""
    from pegasus_spark.functions.simops import rademacher_signs

    signs = rademacher_signs(_ANN_DIM, 64)
    values = ", ".join(
        f"({j}, [{', '.join(str(s) for s in signs[j])}])" for j in range(64)
    )
    return f"""
        ex AS (
          SELECT vec_id,
                 CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        planes AS (
          SELECT j, unnest(sv) AS s, generate_subscripts(sv, 1) AS i
          FROM (VALUES {values}) t(j, sv)),
        proj AS (
          SELECT vec_id, j, CAST(SUM(q * s) AS BIGINT) AS pr
          FROM ex JOIN planes USING (i) GROUP BY 1, 2),
        sg AS (
          SELECT vec_id,
                 CAST(SUM(CASE WHEN j < 32 AND pr > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sig_lo,
                 CAST(SUM(CASE WHEN j >= 32 AND pr > 0 THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END) AS BIGINT) AS sig_hi
          FROM proj GROUP BY 1)"""


def _phash_near_dup_oracle() -> str:
    """DuckDB twin of q_phash_near_dup_pairs: the same md5-twin simhash
    halves combined into ONE 64-bit long (two's-complement wrap via a
    HUGEINT intermediate — DuckDB's BIGINT << raises on overflow where
    Spark's shiftleft wraps), then an all-pairs self-join verified by
    bit_count — no banding, so it pins every pair within 6, not only
    those that share a band."""
    return f"""
        WITH {_simhash_cte()},
        ph AS (
          SELECT doc_id,
                 CAST(CASE WHEN x >= 9223372036854775808
                           THEN x - 18446744073709551616 ELSE x END AS BIGINT) AS phash
          FROM (SELECT doc_id,
                       CAST(sim_hi AS HUGEINT) * 4294967296 + sim_lo AS x
                FROM sg))
        SELECT a.doc_id AS id_a, c.doc_id AS id_b,
               CAST(bit_count(xor(a.phash, c.phash)) AS BIGINT) AS hamming
        FROM ph a JOIN ph c ON a.doc_id < c.doc_id
        WHERE bit_count(xor(a.phash, c.phash)) <= 6
    """


def _embedding_hamming_oracle() -> str:
    return _hamming_pairs_sql(
        _sig64_cte(), "sg", "vec_id", "sig_lo", "sig_hi",
        n_bands=16, band_bits=4, max_hamming=15, out_a="id_a", out_b="id_b",
    )
