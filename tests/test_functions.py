"""Unit tests for the training-data pipeline operators
(pegasus_spark.functions.*)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pegasus_spark import codec
from pegasus_spark.functions import simops, textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup
        (3, "completely different text about spark engines and shuffles"),
        (4, "el gato y la casa de la abuela en el pueblo"),
        (5, "le chat et le chien des voisins dans la rue"),
        (6, "xy"),  # degenerate short doc
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    groups = textops.exact_dedup_groups(docs).collect()
    dup = [g for g in groups if g["n_docs"] > 1]
    assert len(dup) == 1 and dup[0]["keeper"] == 0 and dup[0]["n_docs"] == 2
    assert len(groups) == 6  # 7 docs, one pair merged


def test_quality_metrics(spark, docs):
    q = {r["doc_id"]: r for r in textops.quality_metrics(docs).collect()}
    assert q[0]["n_tokens"] == 9
    assert q[0]["stopword_ratio"] > 0
    assert q[6]["n_tokens"] == 1 and not q[6]["len_ok"]


def test_langid(spark, docs):
    pred = {r["doc_id"]: r["pred_lang"] for r in textops.langid_heuristic(docs).collect()}
    assert pred[0] == "en"
    assert pred[4] == "es"
    assert pred[5] == "fr"
    assert pred[6] == "other"


def test_repetition_metrics(spark):
    rows = [
        # 4 non-empty lines, "spam spam" repeated 3x → 2 dup lines;
        # bigrams of "spam spam\nspam spam\nspam spam\nok line" tokens:
        # [spam]x6 [ok] [line]: (spam,spam)x5 (spam,ok) (ok,line) = 7 occ,
        # top share 5/7
        (0, "spam spam\nspam spam\nspam spam\nok line"),
        # all lines distinct, all bigrams distinct
        (1, "alpha beta\ngamma delta"),
        # 1-token doc → short-gram fallback: 1 gram, share 1.0
        (2, "solo"),
        # blank/whitespace-only lines are dropped before the line metrics
        (3, "a b\n\n   \na b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    m = {r["doc_id"]: r for r in textops.repetition_metrics(docs).collect()}
    assert m[0]["n_lines"] == 4 and m[0]["dup_line_frac"] == 0.5
    assert m[0]["n_bigrams"] == 7 and m[0]["top_bigram_share"] == round(5 / 7, 4)
    assert m[1]["dup_line_frac"] == 0.0 and m[1]["top_bigram_share"] == round(1 / 3, 4)
    assert m[2]["n_lines"] == 1 and m[2]["n_bigrams"] == 1
    assert m[2]["top_bigram_share"] == 1.0
    assert m[3]["n_lines"] == 2 and m[3]["dup_line_frac"] == 0.5


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in
             textops.minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in pairs  # exact dup shares all bands
    # near-dup (0,2) shares most shingles → very likely ≥1 band
    assert (0, 2) in pairs or (1, 2) in pairs
    assert all(a < b for a, b in pairs)


def test_ngram_jaccard(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             textops.ngram_jaccard_pairs(docs).collect()}
    assert pairs[(0, 1)] == 1.0
    assert 0.0 < pairs[(0, 2)] < 1.0


def test_simhash_near_dup(spark, docs):
    # band_bits=4 → 16 bands: a pair within hamming 15 is GUARANTEED to
    # share a band (pigeonhole), so the near-dup (0,2) must be found
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             simops.simhash_md5_near_dup_pairs(
                 docs, max_hamming=15, band_bits=4).collect()}
    assert pairs[(0, 1)] == 0  # identical text → identical simhash
    assert (0, 2) in pairs  # near-dup within hamming budget


def _sig_df(spark, sigs):
    return spark.createDataFrame(
        [(i, s & 0xFFFFFFFF, (s >> 32) & 0xFFFFFFFF) for i, s in enumerate(sigs)],
        "id long, lo long, hi long")


def test_band_join_rejects_bands_straddling_the_halves(spark):
    # 12-bit bands: 64 // 12 = 5 would pass the pigeonhole check at
    # max_hamming=4, but only 2 bands fit in each 32-bit half
    df = _sig_df(spark, [0, 1])
    with pytest.raises(ValueError, match="divide 32"):
        simops.hamming_band_pairs_2x32(df, "id", "lo", "hi", max_hamming=4,
                                       band_bits=12)


def test_band_join_finds_one_differing_bit_per_wide_band(spark):
    # bits 0, 12, 32, 44: one in each of the four 12-bit bands cut inside
    # the halves, so no such band is shared; 8-bit bands leave four shared
    a = 0x0123456789ABCDEF
    b = a ^ (1 << 0) ^ (1 << 12) ^ (1 << 32) ^ (1 << 44)
    got = [tuple(r) for r in simops.hamming_band_pairs_2x32(
        _sig_df(spark, [a, b]), "id", "lo", "hi", max_hamming=4,
        band_bits=8).collect()]
    assert got == [(0, 1, 4)]


def test_bpe_token_count_matches_reference_pretokenizer(spark):
    # python's re engine shares leftmost-first alternation with Java and
    # RE2, so re.findall over the SAME pattern is the executable spec
    import re as _re

    samples = [
        "hello world",
        "don't stop, won't you're it's I'll we'd they've I'm",
        "x=42; y3 = foo(bar,  baz)!?  \t tabs\nand newlines",
        "",
        "   ",
        "a1b2c3 --- ''' 12,345.67",
    ]
    from pegasus_spark.functions.textops import _BPE_RE, bpe_token_count
    expected = [len(_re.findall(_BPE_RE, s)) for s in samples]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)],
                               "i long, text string")
    got = {r["i"]: r["n"] for r in
           df.select("i", bpe_token_count(F.col("text")).alias("n")).collect()}
    assert [got[i] for i in range(len(samples))] == expected
    # sanity: punctuation-heavy text yields MORE tokens than whitespace
    # splitting (the reason this counter exists)
    from pegasus_spark.functions.textops import token_count
    ws = df.select("i", token_count(F.col("text")).alias("n")).collect()
    ws = {r["i"]: r["n"] for r in ws}
    assert got[2] > ws[2]


def test_ivf_topk_prunes_to_probed_cells(spark):
    # Two well-separated directions; centroids are the sampled ids 0..3.
    # Vectors near direction-of-0 must be retrieved; vectors near the
    # opposite direction sit in unprobed cells and must be pruned even
    # though a brute-force scan would still rank them (that pruning IS
    # the IVF contract).
    rng = np.random.default_rng(11)
    base_a = rng.standard_normal(16)
    base_b = -base_a  # antipodal: cos(a, b) = -1
    rows = []
    for i in range(120):
        base = base_a if i % 2 == 0 else base_b
        v = base + rng.standard_normal(16) * 0.05
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = simops.ivf_topk(df, k=10, n_cells=4, n_probe=2, query_id=0).collect()
    assert len(out) == 10
    assert all(r["vec_id"] != 0 for r in out)
    # every result is cosine-close to the query's direction, none from
    # the antipodal family (their cells are not probed)
    assert all(r["vec_id"] % 2 == 0 for r in out)
    assert all(r["cos"] > 0.9 for r in out)
    # results come only from probed cells, and cells are real centroids
    assert all(r["cell"] in (0, 1, 2, 3) for r in out)
    # deterministic: same input → same list
    again = simops.ivf_topk(df, k=10, n_cells=4, n_probe=2, query_id=0).collect()
    assert [(r["vec_id"], r["cos"]) for r in out] == \
           [(r["vec_id"], r["cos"]) for r in again]


def test_embedding_near_dup_pairs(spark):
    rng = np.random.default_rng(4)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    vecs[9] = vecs[3] * 1.001
    df = spark.createDataFrame(
        [(i, i % 2, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, label int, embedding array<float>",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             simops.embedding_near_dup_pairs(df, threshold=0.99).collect()}
    assert (3, 9) in pairs


def test_embedding_near_dup_lsh_blocked(spark):
    """End-to-end: signed_projection_bucket output wired in as the
    near-dup ``block_col`` (the 100 TB blocking path — no label column)."""
    rng = np.random.default_rng(6)
    vecs = rng.standard_normal((60, 8)).astype(np.float32)
    vecs[11] = vecs[2] * 1.001  # planted near-dup: same direction → same bucket
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    b = simops.signed_projection_bucket(df, dim=8, n_planes=4)
    pairs = {(r["id_a"], r["id_b"]): r["cos"] for r in
             simops.embedding_near_dup_pairs(b, threshold=0.99,
                                             block_col="bucket").collect()}
    assert (2, 11) in pairs and pairs[(2, 11)] >= 0.99
    # blocking really restricts the join: every emitted pair shares a bucket
    buckets = {r["vec_id"]: r["bucket"] for r in b.collect()}
    assert all(buckets[a] == buckets[bb] for a, bb in pairs)


def test_sig64_udf_matches_jvm_form(spark):
    """The numpy-matmul sig64 UDF (the 100 TB hot path) is bit-identical
    to the posexplode/groupBy JVM twin (the oracle-checkable form): both
    compute the same exact-int64 projection sums, so every signature bit
    must agree — this is what lets the entry query use the fast form
    while the DuckDB oracle checks the slow one's algebra."""
    rng = np.random.default_rng(17)
    vecs = rng.standard_normal((40, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    jvm = {r["vec_id"]: (r["sig_lo"], r["sig_hi"]) for r in
           simops.signed_projection_sig64(df, dim=16).collect()}
    udf = {r["vec_id"]: (r["sig_lo"], r["sig_hi"]) for r in
           simops.signed_projection_sig64_udf(df, dim=16).collect()}
    assert jvm == udf


def test_simhash_md5_matches_reference(spark, docs):
    """Pin the md5-twin signature semantics with a pure-Python reference
    (same spec: two 32-bit md5 halves, frequency-weighted sign-sums)."""
    import hashlib

    got = {r["doc_id"]: (r["sim_lo"], r["sim_hi"]) for r in
           simops.simhash_md5(docs).collect()}
    for doc_id, text in [(0, "the quick brown fox jumps over the lazy dog"), (6, "xy")]:
        toks = [t for t in text.strip().lower().split() if t]
        sums = [0] * 64
        for t in toks:
            hx = hashlib.md5(t.encode()).hexdigest()
            hlo, hhi = int(hx[:8], 16), int(hx[8:16], 16)
            for b in range(32):
                sums[b] += 1 if (hlo >> b) & 1 else -1
                sums[32 + b] += 1 if (hhi >> b) & 1 else -1
        lo = sum(1 << b for b in range(32) if sums[b] > 0)
        hi = sum(1 << b for b in range(32) if sums[32 + b] > 0)
        assert got[doc_id] == (lo, hi), f"doc {doc_id}"
    # exact dup docs agree bit-for-bit
    assert got[0] == got[1]


@pytest.fixture(scope="module")
def images(spark):
    rng = np.random.default_rng(5)
    rows = []
    base = rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
    for i in range(6):
        px = base.copy() if i < 2 else rng.integers(0, 256, size=(16, 16, 3), dtype=np.uint8)
        fmt = "png" if i % 2 == 0 else "qnt"
        rows.append((f"img-{i}", codec.encode(px, fmt), 16, 16, fmt, codec.phash(px)))
    return spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, phash long")


def _signed(x):
    return x - (1 << 64) if x >= 1 << 63 else x


@pytest.fixture(scope="module")
def phashes(spark):
    """Random signed 64-bit phashes (negatives included) plus planted
    near-duplicates at Hamming distance 0-15."""
    rng = np.random.default_rng(21)
    base = [int(x) for x in rng.integers(0, 1 << 64, size=120, dtype=np.uint64)]
    hashes = list(base)
    for i in range(40):
        flips = rng.choice(64, size=int(rng.integers(0, 16)), replace=False)
        h = base[i]
        for f in flips:
            h ^= 1 << int(f)
        hashes.append(h)
    hashes = [_signed(h) for h in hashes]
    assert any(h < 0 for h in hashes)
    rows = [(f"img-{i:03d}", h) for i, h in enumerate(hashes)]
    return spark.createDataFrame(rows, "image_id string, phash long"), rows


@pytest.mark.parametrize("max_hamming", [3, 6, 7, 15])
def test_phash_near_dup_matches_all_pairs(spark, phashes, max_hamming):
    df, rows = phashes
    out = simops.phash_near_dup_pairs(df, max_hamming=max_hamming)
    assert out.schema.simpleString() == \
        "struct<id_a:string,id_b:string,hamming:int>"
    dist = {(a, b): bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
            for a, ha in rows for b, hb in rows if a < b}
    expected = {(a, b, d) for (a, b), d in dist.items() if d <= max_hamming}
    assert len(expected) >= 10
    assert {tuple(r) for r in out.collect()} == expected


def test_phash_near_dup_defaults_find_one_flip_per_16_bit_band(spark):
    # bits 0, 16, 32, 48: one in each 16-bit band, so only bands of 8 bits
    # or fewer leave a shared band at distance 4
    a = 0x0123456789ABCDEF
    b = a ^ (1 << 0) ^ (1 << 16) ^ (1 << 32) ^ (1 << 48)
    df = spark.createDataFrame([("a", a), ("b", b)], "image_id string, phash long")
    assert [tuple(r) for r in simops.phash_near_dup_pairs(df).collect()] == \
        [("a", "b", 4)]
    with pytest.raises(ValueError, match="pigeonhole"):
        simops.phash_near_dup_pairs(df, max_hamming=64)


def test_phash_near_dup(spark, images):
    pairs = {(r["id_a"], r["id_b"]) for r in
             simops.phash_near_dup_pairs(images, max_hamming=0).collect()}
    assert ("img-0", "img-1") in pairs  # same pixels (qnt loses ≤2/255 → same phash)
