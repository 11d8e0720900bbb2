"""Text-analysis operators over a `documents(text, ...)` table.

Everything here is pure `pyspark.sql.functions` (JVM-side, codegen'd;
no Python UDFs at all), so each operator has an exact ANSI-SQL oracle
twin in ``__spark_entry__.oracle_sql`` and scales linearly with
executors — the per-row cost is a handful of string ops, the only
shuffles are the final aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

_WS = r"\s+"


def tokens(col: Column) -> Column:
    """Whitespace tokenization of lowercased, trimmed text (trim first so
    leading/trailing whitespace never yields empty tokens — matches the
    DuckDB oracle spec ``string_split_regex(lower(trim(text)), '\\s+')``)."""
    return F.split(F.trim(F.lower(col)), _WS)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


# GPT-2-style pretokenizer (the BPE front end): contractions, space-
# prefixed letter runs, digit runs, punctuation runs, whitespace runs.
# Two deliberate deviations from the published pattern keep it portable
# across regex engines (Java here, RE2 in the DuckDB oracle, Python re
# in tests — all leftmost-first alternation): no lookahead (RE2 has
# none), and EXPLICIT whitespace classes (Java's \s includes \x0B,
# RE2's does not).
_BPE_RE = (
    "'(?:s|t|re|ve|m|ll|d)"
    "| ?[A-Za-z]+"
    "| ?[0-9]+"
    "| ?[^A-Za-z0-9 \\t\\n\\r\\f]+"
    "|[ \\t\\n\\r\\f]+"
)


def bpe_token_count(col: Column) -> Column:
    """Token count under the BPE-ish pretokenizer — the cheap proxy for
    "how many LLM tokens is this document" a training-data pipeline
    budgets with (whitespace counts undercount code/punctuation-heavy
    text badly). Pure JVM regex — one linear pass, no UDF."""
    return F.size(F.regexp_extract_all(col, F.lit(_BPE_RE), F.lit(0)))


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality scoring: token count, mean token length,
    punctuation ratio, stopword ratio — the standard cheap filters a
    training-data pipeline applies before expensive dedup."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks)
    stop = F.array(*[F.lit(w) for w in ("the", "a", "of", "and", "to", "in")])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop))
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round((F.length(F.regexp_replace(t, _WS, "")) / F.greatest(n_tok, F.lit(1))), 4)
        .alias("mean_token_len"),
        F.round(punct / F.greatest(F.length(t), F.lit(1)), 4).alias("punct_ratio"),
        F.round(n_stop / F.greatest(n_tok, F.lit(1)), 4).alias("stopword_ratio"),
        (n_tok >= 5).alias("len_ok"),
    )


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/Dolma-style repetition signals per document — the standard
    "is this page boilerplate / spam" filters a crawl-to-training-corpus
    pipeline applies alongside `quality_metrics`:

    - ``dup_line_frac``: fraction of non-empty (trimmed) lines that are
      duplicates of an earlier line (1 − distinct/total).
    - ``top_bigram_share``: share of all word-bigram OCCURRENCES taken by
      the most frequent bigram (docs under 2 tokens count their whole
      token string as one gram — the `exploded_shingle_hashes` short-doc
      contract — so the share is 1.0, i.e. maximally repetitive, which is
      the right filter polarity for degenerate docs).

    Physical shape: the line metrics are pure per-row array built-ins
    (no shuffle); the bigram share reuses the posexplode+lead shingle
    pipeline with int64-hashed grams, so both aggregations are
    partial-aggregating shuffles over narrow (doc_id, int64) rows —
    linear at 100 TB, nothing quadratic, no UDFs."""
    t = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    base = df.select(
        "doc_id",
        n_lines.alias("n_lines"),
        F.round((n_lines - n_distinct) / F.greatest(n_lines, F.lit(1)), 4)
        .alias("dup_line_frac"),
    )
    bi = exploded_shingle_hashes(df, text_col, n=2)
    counts = bi.groupBy("doc_id", "h").agg(F.count("*").alias("c"))
    shares = counts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.round(F.max("c") / F.sum("c"), 4).alias("top_bigram_share"),
    )
    return base.join(shares, "doc_id")


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    md5 is identical across engines → exact-oracle-checkable; serves as
    the key for exact dedup."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), _WS, " "))
    return df.withColumn("fp", F.md5(norm))


def langid_heuristic(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Tiny n-gram/stopword language-ID heuristic (en/es/fr fallback
    'other'): counts marker-word occurrences, argmax. Deterministic,
    SQL-expressible; a real pipeline swaps in fastText via mapInPandas."""
    t = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))

    def occ(marker: str) -> Column:
        pat = f" {marker} "
        return (
            (F.length(t) - F.length(F.replace(t, F.lit(pat), F.lit("")))) / len(pat)
        ).cast("int")

    en = (occ("the") + occ("and") + occ("of")).alias("en_score")
    es = (occ("el") + occ("la") + occ("de")).alias("es_score")
    fr = (occ("le") + occ("et") + occ("des")).alias("fr_score")
    return df.select("doc_id", en, es, fr).withColumn(
        "pred_lang",
        F.when((F.col("en_score") >= F.col("es_score"))
               & (F.col("en_score") >= F.col("fr_score"))
               & (F.col("en_score") > 0), "en")
        .when((F.col("es_score") >= F.col("fr_score")) & (F.col("es_score") > 0), "es")
        .when(F.col("fr_score") > 0, "fr")
        .otherwise("other"),
    )


def _md5_int(col: Column) -> Column:
    """First 8 hex digits of md5 as a long — a 32-bit hash both Spark and
    DuckDB compute identically (the cross-engine-stable hash used for
    minhash oracles)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def exploded_shingle_hashes(df: DataFrame, text_col: str = "text", n: int = 3,
                            id_col: str = "doc_id",
                            passthrough: list[str] | None = None) -> DataFrame:
    """(id, h[, passthrough…]): one row per word-n-gram OCCURRENCE,
    ``h`` = 32-bit md5-int of the shingle string.

    Physical shape: posexplode tokens → window ``lead`` per doc → concat →
    md5 — every expression whole-stage-codegen'd, one shuffle (the per-doc
    window). An array-building form (sequence+transform+element_at HOFs
    per doc) runs interpreted and measured 30× slower on the same data.
    Docs shorter than n tokens contribute their whole token string;
    callers needing set semantics dedupe on (id, h)."""
    passthrough = passthrough or []
    toks = tokens(F.col(text_col))
    tk = df.select(id_col, *passthrough, F.posexplode(toks).alias("_p", "_t"))
    w = Window.partitionBy(id_col).orderBy("_p")
    leads = [F.lead("_t", j).over(w).alias(f"_t{j}") for j in range(1, n)]
    tri = tk.select(id_col, *passthrough, "_t", *leads)
    gram = F.concat_ws(" ", "_t", *[f"_t{j}" for j in range(1, n)])
    long_docs = tri.where(F.col(f"_t{n-1}").isNotNull()).select(
        id_col, *passthrough, gram.alias("_g"))
    short = (
        df.select(id_col, *passthrough, toks.alias("_tk"))
        .where(F.size("_tk") < n)
        .select(id_col, *passthrough, F.concat_ws(" ", "_tk").alias("_g"))
    )
    return long_docs.unionByName(short).select(
        id_col, *passthrough, _md5_int(F.col("_g")).alias("h"))


# universal-hash family for minhash: mh_i = (a_i·h + b_i) mod p over the
# ONE 32-bit md5 int per shingle. p = 2^31-1 (Mersenne); a_i < 2^30 keeps
# a·h < 2^62 — no int64 overflow in either engine, so the exact same
# arithmetic is DuckDB-expressible (oracle parity). Round 1 computed 8
# full md5s per shingle; this mixes 8 seeds out of one md5 → 8× less
# hashing on the hot path.
MINHASH_P = 2147483647
MINHASH_AB = [
    (1000003, 12345), (999983, 54321), (823117, 98765), (611953, 13579),
    (500009, 24680), (399989, 86420), (299993, 11111), (179909, 99999),
    (161009, 77777), (143963, 55555), (121001, 33333), (101111, 22222),
    (87119, 44444), (75997, 66666), (63809, 88888), (51481, 10101),
]


def _mix(h: Column, i: int) -> Column:
    a, b = MINHASH_AB[i]
    return F.pmod(F.lit(a).cast("long") * h + F.lit(b), F.lit(MINHASH_P))


def _minhash_sig_agg(df: DataFrame, text_col: str, num_hashes: int,
                     shingle_n: int) -> DataFrame:
    """(doc_id, mh0..mh{k-1}) — the signature aggregation alone, without
    the join back onto the document row (every doc with non-null text
    contributes ≥1 shingle row, so the aggregate covers exactly the
    docs the inner join would keep)."""
    if num_hashes > len(MINHASH_AB):
        raise ValueError(f"num_hashes > {len(MINHASH_AB)} needs more mixing constants")
    # explode + groupBy (not k array_min/transform columns): Catalyst's
    # CollapseProject would inline the shingle-building expression into
    # every mh column — exploding materializes each shingle hash exactly
    # once, then the k mins reduce in a single partial-aggregating
    # shuffle. Duplicate shingles don't affect mins, so no dedup needed.
    sh = exploded_shingle_hashes(df, text_col, shingle_n)
    aggs = [F.min(_mix(F.col("h"), i)).alias(f"mh{i}") for i in range(num_hashes)]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text", num_hashes: int = 8,
                      band_size: int = 2) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs: band the signature, self-join
    on (band_id, band_hash) buckets — the shuffle is on band buckets, so
    at scale no O(n²) pair materialization happens; only same-bucket
    pairs meet. Returns (doc_a, doc_b, n_shared_bands).

    The signature aggregate is consumed by BOTH branches of the band
    self-join; materializing it once (localCheckpoint) halves the
    explode→window→md5→groupBy work per action, and skipping the
    join-back onto the document row (see _minhash_sig_agg) removes a
    documents scan + join from each branch."""
    sig = _minhash_sig_agg(df, text_col, num_hashes,
                           shingle_n=3).localCheckpoint(eager=True)
    n_bands = num_hashes // band_size
    bands = sig.select(
        F.col("doc_id"),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(",", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)])
                .alias("band_hash"),
            )
            for b in range(n_bands)
        ])).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band_id", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", shingle_n: int = 3,
                        block_tokens: int = 4, threshold: float = 0.0) -> DataFrame:
    """Blocked n-gram Jaccard near-dup pairs: block on the md5 of the
    first ``block_tokens`` tokens (prefix blocking — candidate pairs only
    form inside a block, never O(n²)).

    Jaccard is computed WITHOUT shipping shingle arrays through any
    shuffle (round 1 self-joined full ``array<string>`` shingle sets —
    23 s at sf0.1 and a string-heavy shuffle at scale): shingles are
    hashed to int64 once, exploded, and
    |A∩B| = count of equal (block, hash) rows in a self-join of the
    exploded form; |A∪B| = |A|+|B|−|A∩B| from a tiny per-doc size table.
    Every shuffle carries (block, int64, doc_id) rows; all aggregations
    are partial (map-side combine)."""
    toks = tokens(F.col(text_col))
    blocked = df.withColumn(
        "block", F.md5(F.concat_ws(" ", F.slice(toks, 1, block_tokens)))
    )
    # set semantics over the HASHED values (md5-32 collisions merge
    # identically in the DuckDB oracle, so parity is exact).
    # Materialized ONCE (localCheckpoint): `ex` feeds three consumers —
    # the per-doc sizes and both branches of the intersection self-join —
    # which otherwise each re-run the posexplode→window→md5 pipeline
    # (3 executions of the most expensive subtree per action).
    ex = exploded_shingle_hashes(
        blocked, text_col, shingle_n, passthrough=["block"]
    ).dropDuplicates(["doc_id", "h"]).localCheckpoint(eager=True)
    sizes = ex.groupBy("doc_id", "block").agg(F.count("*").alias("n"))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    pairs = (
        sa.join(sb, "block")
        .where(F.col("sa.doc_id") < F.col("sb.doc_id"))
        .select(
            F.col("sa.doc_id").alias("doc_a"), F.col("sb.doc_id").alias("doc_b"),
            F.col("sa.n").alias("na"), F.col("sb.n").alias("nb"),
        )
    )
    xa, xb = ex.alias("xa"), ex.alias("xb")
    inter = (
        xa.join(xb, ["block", "h"])
        .where(F.col("xa.doc_id") < F.col("xb.doc_id"))
        .groupBy(F.col("xa.doc_id").alias("doc_a"), F.col("xb.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("ni"))
    )
    ni = F.coalesce(F.col("ni"), F.lit(0))
    return (
        pairs.join(inter, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a", "doc_b",
            F.round(ni / F.greatest(F.col("na") + F.col("nb") - ni, F.lit(1)), 4)
            .alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def exact_dedup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via hash-groupBy on the normalized-text fingerprint:
    (fp, keeper=min doc_id, n_dups)."""
    return (
        fingerprint(df, text_col)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_docs"))
    )
