"""Similarity operators over embeddings (array<float>), text signatures
and image perceptual hashes.

Each operator here is run by an oracle-checked ``__spark_entry__`` query
and value-checked against a DuckDB twin, except
``signed_projection_sig64``: the JVM reference its UDF form is tested
against.

- ``cosine_col``: cosine of two array columns — JVM built-ins only
  (``zip_with`` products folded by ``aggregate``).
- ``embedding_near_dup_pairs``: near-duplicate pairs by cosine within a
  blocking key (a label, or a ``signed_projection_bucket`` bucket).
- ``signed_projection_bucket``: random-projection LSH bucket id from
  deterministic ±1 planes in exact integer arithmetic.
- ``signed_projection_sig64``/``signed_projection_sig64_udf``: the
  64-plane projection signature, as JVM built-ins and as an Arrow-batched
  numpy UDF that computes the same bits.
- ``simhash_md5``: 64-bit SimHash of text from md5 token halves, emitted
  as two 32-bit longs.
- ``hamming_band_pairs_2x32``: the banded-Hamming self-join over such
  two-halves signatures, run by ``simhash_md5_near_dup_pairs``,
  ``phash_near_dup_pairs`` and the embedding Hamming query.
- ``phash_near_dup_pairs``: image near-dup pairs by the Hamming distance
  of a 64-bit perceptual hash, through the same band join.
- ``ivf_topk``: inverted-file ANN top-k over sampled centroid cells.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    # sequential left fold — kept as the higher-order form on purpose:
    # an unrolled element_at(i) add chain (dim=64) was A/B-tested in r6
    # and LOST 3-5x (the ~400-node expression tree defeats codegen and
    # evaluates interpreted per pair), while aggregate/zip_with evaluate
    # through one tight interpreted loop. See OPTIMIZATION_r06.md.
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


# The nested pandas UDF below pickles by value, and this module-level
# batch function by reference: so a Python worker that unpickles the UDF
# imports the package, which installs its zipimport guard (worker.py).
def _sig64_frame(emb: pd.Series, signs: np.ndarray, weights_lo: np.ndarray) -> pd.DataFrame:
    m = np.vstack(emb.to_numpy()).astype(np.float64)  # (batch, dim)
    q = np.round(m * 1e6).astype(np.int64)
    bits = (q @ signs.T) > 0  # (batch, 64) — exact int64 matmul
    return pd.DataFrame({
        "sig_lo": (bits[:, :32] @ weights_lo).astype(np.int64),
        "sig_hi": (bits[:, 32:] @ weights_lo).astype(np.int64),
    })


def _sig64_udf(dim: int):
    signs = np.array(rademacher_signs(dim, 64), dtype=np.int64)  # (64, dim)
    weights_lo = (1 << np.arange(32, dtype=np.uint64)).astype(np.int64)

    @F.pandas_udf("sig_lo long, sig_hi long")
    def sig64(emb: pd.Series) -> pd.DataFrame:
        return _sig64_frame(emb, signs, weights_lo)

    return sig64


def rademacher_signs(dim: int, n_planes: int = 8) -> list[list[int]]:
    """Deterministic ±1 sign planes from md5(j|i) parity — sparse random
    projections (Achlioptas-style), reproducible without numpy RNG state
    so the exact same planes can be rendered into an ANSI-SQL oracle."""
    import hashlib

    return [
        [1 if hashlib.md5(f"{j}|{i}".encode()).digest()[0] & 1 else -1
         for i in range(dim)]
        for j in range(n_planes)
    ]


def signed_projection_bucket(df: DataFrame, dim: int, n_planes: int = 8,
                             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """LSH bucket id via ±1 projections in EXACT integer arithmetic —
    JVM built-ins only, no UDF, no higher-order folds.

    Elements are quantized to q = round(v·10⁶) (a double times 10⁶ is
    never exactly half-integral, so round() is engine-agnostic); the
    projection is Σ s_ij·q_i — an int64 sum, associative and therefore
    bit-identical across engines regardless of summation order, so the
    DuckDB oracle recomputes every bucket from the same literal planes.

    Physical shape: posexplode once, all planes aggregated in ONE
    partial-aggregating groupBy (map-side combine) — linear, codegen'd,
    and the shuffle carries only (id, n_planes sums). The posexplode
    inflates dim× rows through that shuffle; a 100 TB path would compute
    the same integer sums in an Arrow-batched numpy UDF, as
    ``signed_projection_sig64_udf`` does for the 64-plane signature."""
    signs = rademacher_signs(dim, n_planes)
    q = F.round(F.col("v").cast("double") * 1e6).cast("long")
    ex = df.select(
        id_col, F.posexplode(F.col(vec_col)).alias("pos", "v")
    ).select(id_col, "pos", q.alias("q"))
    aggs = []
    for j in range(n_planes):
        sv = F.array(*[F.lit(int(s)).cast("long") for s in signs[j]])
        aggs.append(
            F.sum(F.col("q") * F.element_at(sv, F.col("pos") + 1)).alias(f"_p{j}")
        )
    acc = ex.groupBy(id_col).agg(*aggs)
    one = F.lit(1).cast("long")
    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        bucket = bucket + F.when(F.col(f"_p{j}") > 0, F.shiftleft(one, j)).otherwise(
            F.lit(0).cast("long")
        )
    return df.join(acc.select(id_col, bucket.alias("bucket")), id_col)


def signed_projection_sig64(df: DataFrame, dim: int,
                            vec_col: str = "embedding",
                            id_col: str = "vec_id") -> DataFrame:
    """64-plane ±1-projection signature of an embedding — the SimHash-for-
    vectors analogue of an image phash: cosine-close vectors land at small
    Hamming distance. Emitted as two 32-bit longs ``sig_lo``/``sig_hi``
    (same two-halves convention as simhash_md5) in exact integer
    arithmetic, so the signature has a bit-identical ANSI-SQL twin; at
    100 TB use ``signed_projection_sig64_udf`` (a numpy matmul of the same
    planes) and keep this form as its verification twin."""
    # NARROW dataflow, not signed_projection_bucket's wide form: a
    # groupBy with 64 `sum(q · element_at(<64-literal array>, pos+1))`
    # aggregates generates pathological aggregation code (measured 189 s
    # for 2 000 vectors at local[32]). Same integer sums, reshaped as
    # (id, pos, q) ⋈ broadcast signs(pos, plane, s) → partial-agg
    # groupBy(id, plane) → two compact bit-assembly sums — every stage
    # narrow and codegen-friendly, ~2 small shuffles (measured <2 s).
    # Integer addition is commutative/associative, so the sums — and the
    # ANSI-SQL twin — are bit-identical to the wide form.
    signs = rademacher_signs(dim, 64)
    spark = df.sparkSession
    signs_df = spark.createDataFrame(
        [(i, j, int(signs[j][i])) for j in range(64) for i in range(dim)],
        "pos int, j int, s long",
    )
    q = F.round(F.col("v").cast("double") * 1e6).cast("long")
    ex = df.select(
        id_col, F.posexplode(F.col(vec_col)).alias("pos", "v")
    ).select(id_col, "pos", q.alias("q"))
    p = (
        ex.join(F.broadcast(signs_df), "pos")
        .groupBy(id_col, "j")
        .agg(F.sum(F.col("q") * F.col("s")).alias("p"))
    )
    pow2 = F.array(*[F.lit(1 << k).cast("long") for k in range(32)])
    zero = F.lit(0).cast("long")
    return p.groupBy(id_col).agg(
        F.sum(F.when((F.col("j") < 32) & (F.col("p") > 0),
                     F.element_at(pow2, F.col("j") + 1)).otherwise(zero))
        .alias("sig_lo"),
        F.sum(F.when((F.col("j") >= 32) & (F.col("p") > 0),
                     F.element_at(pow2, F.col("j") - 31)).otherwise(zero))
        .alias("sig_hi"),
    )


def signed_projection_sig64_udf(df: DataFrame, dim: int,
                                vec_col: str = "embedding",
                                id_col: str = "vec_id") -> DataFrame:
    """The 100 TB form of ``signed_projection_sig64``: one Arrow-batched
    numpy int64 matmul per batch — no posexplode, no shuffle, linear scan.

    Bit-identical to the JVM/SQL twin BY CONSTRUCTION, not approximately:
    q = round(v·10⁶) is an exact int64, the projection Σ s_ij·q_i is int64
    addition (commutative/associative, no rounding), and |Σ| ≤ dim·10⁶ —
    12 orders of magnitude inside int64. So the scale path and the
    oracle-checkable twin agree on every bit (pinned by
    test_sig64_udf_matches_jvm_form); use THIS one in hot paths."""
    sig64 = _sig64_udf(dim)
    return df.select(id_col, sig64(F.col(vec_col)).alias("_s")).select(
        id_col, F.col("_s.sig_lo").alias("sig_lo"), F.col("_s.sig_hi").alias("sig_hi")
    )


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.3,
                             vec_col: str = "embedding", id_col: str = "vec_id",
                             block_col: str = "label") -> DataFrame:
    """Near-dup pairs by cosine, blocked on ``block_col`` so the join is
    bucket-local (at scale: LSH bucket instead of label).

    Physical shape: the norm ``sqrt(Σv²)`` is a PER-ROW quantity, so it
    is computed once per vector BEFORE the self-join instead of twice
    per candidate pair inside it (identical arithmetic — same fold, same
    sqrt, same multiply — so round(cos,4) is bit-identical); the pair
    condition then evaluates ONE dot-product fold instead of three."""
    base = df.select(
        F.col(id_col), F.col(block_col).alias("_blk"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    base = base.withColumn("_n", _norm(F.col("_v")))
    a, b = base.alias("a"), base.alias("b")
    cos = _dot(F.col("a._v"), F.col("b._v")) / (F.col("a._n") * F.col("b._n"))
    return (
        a.join(b, F.col("a._blk") == F.col("b._blk"))
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(cos, 4).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def _packed_simhash_bits(ex: DataFrame, id_col: str, hash_cols: list[str],
                         bits_per_hash: int) -> DataFrame:
    """Sign-sum core of ``simhash_md5``: per hash column,
    per bit b, s_b = Σ_tokens (bit set ? +1 : −1); output ``_sig{i}`` =
    Σ_b (s_b>0) << b.

    Packed-lane aggregation (r2 shipped one SUM per bit = 64 aggregate
    buffers): two bits share one long — lane value ((h>>2i)&1) |
    ((h>>(2i+1))&1) << 32 — so 64 bits take 32 SUMs + 1 COUNT, halving
    the aggregation state and shuffle row width. 32-bit lanes hold exact
    counts up to 2^31 tokens/doc (no 16-bit-lane overflow hazard), and
    s_b>0 ⇔ 2·ones_b > n, so the signature is bit-identical to the
    unpacked form — semantics unchanged, only the physical agg shape."""
    one = F.lit(1).cast("long")
    n_lanes_per_hash = bits_per_hash // 2
    aggs = [F.count(F.lit(1)).alias("_n")]
    for hi, hc in enumerate(hash_cols):
        h = F.col(hc)
        for i in range(n_lanes_per_hash):
            lane = (
                F.shiftright(h, 2 * i).bitwiseAND(one)
                + F.shiftleft(F.shiftright(h, 2 * i + 1).bitwiseAND(one), 32)
            )
            aggs.append(F.sum(lane).alias(f"_l{hi}_{i}"))
    acc = ex.groupBy(id_col).agg(*aggs)
    mask32 = F.lit((1 << 32) - 1).cast("long")
    n2 = F.col("_n")  # s_b > 0  ⇔  2·ones_b − n > 0
    sig_cols = []
    for hi in range(len(hash_cols)):
        sig = F.lit(0).cast("long")
        for b in range(bits_per_hash):
            i, sub = b // 2, b % 2
            lane_sum = F.col(f"_l{hi}_{i}")
            ones = (lane_sum.bitwiseAND(mask32) if sub == 0
                    else F.shiftright(lane_sum, 32))
            sig = sig + F.when(ones * 2 > n2, F.shiftleft(one, b)).otherwise(
                F.lit(0).cast("long"))
        sig_cols.append(sig.alias(f"_sig{hi}"))
    return acc.select(id_col, *sig_cols)


def simhash_md5(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash of whitespace tokens: 64 signature bits from TWO
    32-bit md5 halves per token (hex chars 1-8 and 9-16 — the same
    ``_md5_int`` pattern minhash uses), emitted as two 32-bit longs
    ``sim_lo``/``sim_hi`` so no expression can overflow int64 in either
    engine. Token multiplicity is kept (frequency-weighted SimHash).

    md5 is bit-identical across Spark and DuckDB, so the signature has an
    exact ANSI-SQL oracle (``__spark_entry__.oracle_sql``). Physical
    shape: explode → hash → one partial-agg shuffle of 64 sign-sums → JVM
    bit assembly."""
    from .textops import tokens

    md5 = F.md5("_t")
    ex = (
        df.select(id_col, F.explode(tokens(F.col(text_col))).alias("_t"))
        .where(F.col("_t") != "")
        .select(
            id_col,
            F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("_hlo"),
            F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("_hhi"),
        )
    )
    sigs = _packed_simhash_bits(ex, id_col, ["_hlo", "_hhi"], 32).select(
        id_col, F.col("_sig0").alias("sim_lo"), F.col("_sig1").alias("sim_hi")
    )
    return df.join(sigs, id_col, "left").fillna({"sim_lo": 0, "sim_hi": 0})


def hamming_band_pairs_2x32(sigs: DataFrame, id_col: str,
                            lo_col: str, hi_col: str,
                            max_hamming: int, band_bits: int) -> DataFrame:
    """Banded Hamming near-dup self-join over a 64-bit signature stored as
    two 32-bit longs (lo = bits 0-31, hi = bits 32-63): explode into
    64/band_bits bands, bucket-join on (band_id, band_val), verify with
    JVM ``bit_count`` — never all-pairs. Pigeonhole guarantee (a pair
    within Hamming < #bands shares ≥1 exact band) requires
    ``max_hamming < 64 // band_bits``, enforced here, so the output is
    exactly the pairs within ``max_hamming``. Bands never straddle the
    two halves, so ``band_bits`` must divide 32.
    Output: (id_a, id_b, hamming)."""
    if band_bits <= 0 or 32 % band_bits:
        raise ValueError(f"band_bits={band_bits} must divide 32: the bands "
                         "are cut inside the two 32-bit halves")
    n_bands = 64 // band_bits
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs > {max_hamming} bands for the "
            f"pigeonhole guarantee; band_bits={band_bits} gives only {n_bands}"
        )
    per_half = 32 // band_bits
    mask = F.lit((1 << band_bits) - 1)
    band_structs = [
        F.struct(F.lit(b).alias("band_id"),
                 F.shiftright(lo_col, b * band_bits).bitwiseAND(mask).alias("band_val"))
        for b in range(per_half)
    ] + [
        F.struct(F.lit(per_half + b).alias("band_id"),
                 F.shiftright(hi_col, b * band_bits).bitwiseAND(mask).alias("band_val"))
        for b in range(per_half)
    ]
    bands = sigs.select(
        id_col, lo_col, hi_col,
        F.explode(F.array(*band_structs)).alias("band"),
    ).select(id_col, lo_col, hi_col, "band.band_id", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    ham = (
        F.bit_count(F.col(f"a.{lo_col}").bitwiseXOR(F.col(f"b.{lo_col}")))
        + F.bit_count(F.col(f"a.{hi_col}").bitwiseXOR(F.col(f"b.{hi_col}")))
    ).cast("long")
    return (
        a.join(b, ["band_id", "band_val"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
                ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def phash_near_dup_pairs(df: DataFrame, max_hamming: int = 6) -> DataFrame:
    """Image near-dup pairs by perceptual-hash Hamming distance: the 64-bit
    ``phash`` split into its two 32-bit halves and fed to
    ``hamming_band_pairs_2x32``. The band width is the widest that divides
    32 and still gives more than ``max_hamming`` bands (8 bits at the
    default 6), so every pair within ``max_hamming`` is returned;
    ``max_hamming >= 64`` raises ``ValueError``.
    Output: (id_a, id_b, hamming int)."""
    band_bits = next((w for w in (32, 16, 8, 4, 2) if 64 // w > max_hamming), 1)
    mask32 = F.lit(0xFFFFFFFF).cast("long")
    halves = df.select(
        "image_id",
        F.col("phash").bitwiseAND(mask32).alias("lo"),
        F.shiftright("phash", 32).bitwiseAND(mask32).alias("hi"),
    )
    return hamming_band_pairs_2x32(
        halves, "image_id", "lo", "hi", max_hamming, band_bits
    ).withColumn("hamming", F.col("hamming").cast("int"))


def simhash_md5_near_dup_pairs(df: DataFrame, text_col: str = "text",
                               max_hamming: int = 7, band_bits: int = 8) -> DataFrame:
    """SimHash near-dup pairs: ``simhash_md5`` signatures (sim_lo/sim_hi)
    through ``hamming_band_pairs_2x32``. Every piece (tokenize, md5
    halves, sign-sums, band join, bit_count) is ANSI-expressible, so the
    whole near-dup operator is value-checked cross-engine.

    The signature aggregation is materialized once (localCheckpoint):
    the band self-join otherwise embeds the tokenize→md5→sign-sum
    pipeline in BOTH join branches and executes it twice per action
    (ReusedExchange does not fire across the explode)."""
    sigs = simhash_md5(df, text_col).select(
        "doc_id", "sim_lo", "sim_hi").localCheckpoint(eager=True)
    return hamming_band_pairs_2x32(
        sigs, "doc_id", "sim_lo", "sim_hi", max_hamming, band_bits
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming")


def ivf_topk(df: DataFrame, k: int = 10, n_cells: int = 8, n_probe: int = 2,
             query_id: int = 0, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """IVF (inverted-file) ANN top-k — the coarse-quantizer scale path
    next to ``signed_projection_bucket`` blocking: vectors are assigned to
    their nearest centroid cell once at ingest, a query probes only the
    ``n_probe`` cells nearest to it, and the exact cosine top-k runs over
    that candidate slice instead of the full table.

    Centroids are SAMPLED deterministically (the ``n_cells`` smallest
    ids) rather than k-means-trained, so the whole operator — assignment
    argmax included — is a pure function of the data with a
    DuckDB-expressible twin: every comparison is over ``round(cos, 4)``
    of the same sequential-fold double dot product both engines compute
    (the parity basis already value-checked by ``embedding_cosine_topk``),
    ties broken by cell id. At 100 TB: train cells with k-means||
    (MLlib), store ``cell`` as a partition column at write time so a
    query prunes partitions instead of filtering, and do the assignment
    argmax in a numpy-matmul pandas UDF over the broadcast centroid
    matrix (no row inflation). Here the assignment is the JVM twin: one
    broadcast crossJoin (n·C narrow rows) into a partially-aggregating
    ``max_by`` — shuffle carries one row per vector.

    Returns (vec_id, cell, cos): the top-k candidates by cosine vs the
    ``query_id`` vector among vectors in probed cells, query excluded.
    Recall vs exact top-k depends on n_probe/n_cells like any IVF."""
    e = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("emb"),
    )
    cents = (
        e.orderBy("vec_id").limit(n_cells)
        .select(F.col("vec_id").alias("cell_id"), F.col("emb").alias("cemb"))
    )
    q = e.filter(F.col("vec_id") == query_id).select(F.col("emb").alias("qe"))

    # coarse quantization: nearest centroid by rounded cosine, tie → min cell
    assign = (
        e.crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "cell_id",
            F.round(cosine_col(F.col("emb"), F.col("cemb")), 4).alias("ccos"),
        )
        .groupBy("vec_id")
        .agg(F.max_by(
            "cell_id", F.struct(F.col("ccos"), (-F.col("cell_id")).alias("_t"))
        ).alias("cell"))
    )
    probed = (
        cents.crossJoin(F.broadcast(q))
        .select(
            "cell_id",
            F.round(cosine_col(F.col("cemb"), F.col("qe")), 4).alias("qcos"),
        )
        .orderBy(F.desc("qcos"), F.asc("cell_id"))
        .limit(n_probe)
        .select("cell_id")
    )
    cand = (
        assign.join(F.broadcast(probed), assign["cell"] == probed["cell_id"])
        .select("vec_id", "cell")
        .join(e, "vec_id")
        .filter(F.col("vec_id") != query_id)
    )
    return (
        cand.crossJoin(F.broadcast(q))
        .select(
            "vec_id", "cell",
            F.round(cosine_col(F.col("emb"), F.col("qe")), 4).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )
