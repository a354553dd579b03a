"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first — the order a real 100TB dedup pass runs them:

1. ``exact_dedup``          hash-groupBy on a content fingerprint. One
                            shuffle on the (high-cardinality, unskewed)
                            hash key; survives any scale.
2. ``ngram_jaccard_pairs``  exact near-dup pairs within cheap blocking
                            buckets (``block_key``) — the verifier stage.
3. ``minhash_pairs``        MinHash + LSH banding: signature → band →
                            bucket equi-join → candidate pairs, then exact
                            Jaccard verify. The scale path: no cross
                            product ever materializes; the band join's key
                            cardinality grows with the corpus.
4. ``simhash64``            64-bit SimHash fingerprint for Hamming-distance
                            near-dup (cheap bitwise comparison downstream).

The LSH pieces are shared by every banded near-dup query: band keys come
from ``minhash_band_hashes`` (md5 of signature runs) or
``fingerprint_bands`` (bit slices of a 60-bit SimHash/dHash), and
``band_pairs`` is the one (band, key) self-join that turns them into
candidate pairs; ``cap_buckets`` drops degenerate buckets before a band
join.

Blocking rule (``block_key``): two documents share a block only when
``lang`` and ``source`` are both non-NULL and equal on both — the
pairing of the SQL equality join ``a.lang = b.lang AND a.source =
b.source``. A NULL ``lang`` or ``source`` never blocks.

Determinism: keep-min(doc_id) per duplicate group; MinHash permutations are
seeded linear hashes over a portable md5-derived base hash, so results are
reproducible across runs and engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_streams_example_spark.functions.hashing import (
    fingerprint_md5,
    stable_long,
    stable_long_sql,
)
from kafka_streams_example_spark.operators import estimated_input_bytes, share, sql_name
from kafka_streams_example_spark.operators.text import jaccard, round_half_up, word_ngrams

# 31-bit Mersenne prime — the classic universal-hash modulus. Kept at 31
# bits so (a*x) with a,x < 2^31 stays under 2^62: Spark 4 runs ANSI mode by
# default and a 64-bit overflow would throw, not wrap.
_MERSENNE = (1 << 31) - 1


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One surviving row (min id) per distinct normalized-text fingerprint."""
    return (
        df.withColumn("fp", fingerprint_md5(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(F.col(id_col)).alias("keep_id"), F.count("*").alias("n_dups"))
    )


# compressed scan bytes -> hashed-shingle frame (parquet decompression
# plus the int-array expansion; SCALE.md §caches)
_CORPUS_CACHE_EXPANSION = 8


def block_key() -> Column:
    """The near-dup blocking key: ``lang`` and ``source`` each
    base64-encoded, joined by '|'. base64 never contains '|', so distinct
    (lang, source) pairs never collide (a plain ``concat_ws('|', ...)``
    merges ('a|b', 'c') with ('a', 'b|c')). ``concat`` is NULL if any
    part is, and a NULL key joins nothing, so a document with a NULL
    ``lang`` or ``source`` pairs with no other — the SQL equality join's
    semantics, where ``concat_ws`` would skip the NULL and merge
    (NULL, 'x') with ('x', NULL)."""
    return F.concat(
        F.base64(F.encode(F.col("lang"), "utf-8")),
        F.lit("|"),
        F.base64(F.encode(F.col("source"), "utf-8")),
    )


def hashed_shingles_sql(shingles: str) -> str:
    """Shingle strings in array column ``shingles`` → 60-bit integers
    (portable md5-derived hash, ``functions/hashing.py:stable_long``).
    A Jaccard-changing collision needs two distinct shingles of the same
    doc pair to collide: ~|A|·|B|/2⁶⁰ ≈ 1e-14 per pair — safe even across
    billions of verified pairs. Integer set ops downstream are far cheaper
    than string set ops; materialize as a real column so md5 runs once."""
    return f"transform({sql_name(shingles)}, s -> {stable_long_sql('s')})"


def minhash_signature_sql(hashed: str, num_hashes: int = 32, seed: int = 42) -> str:
    """MinHash signature over the pre-hashed shingles in array column
    ``hashed``: per permutation i, min over shingles of hash_i(shingle
    mod P). Permutation params derive deterministically from the seed
    (python's Random is stable across platforms). The mod-P reduction to
    31 bits keeps a*x below 2^62 (ANSI overflow) and only perturbs the
    *approximate* signature, never the exact verify stage. Built as one
    SQL text: a Column/lambda form costs tens of py4j round-trips per
    signature to construct."""
    import random

    rng = random.Random(seed)
    params = [
        (rng.randrange(1, _MERSENNE), rng.randrange(0, _MERSENNE))
        for _ in range(num_hashes)
    ]
    # Spark's % follows the dividend's sign; the 60-bit hashes are
    # non-negative, so a plain % needs no pmod and stays portable.
    reduced = f"transform({sql_name(hashed)}, h -> h % {_MERSENNE})"
    mins = ", ".join(
        f"array_min(transform({reduced}, h -> ({a} * h + {b}) % {_MERSENNE}))"
        for a, b in params
    )
    return f"array({mins})"


def minhash_signed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """The MinHash signing stage: (id, hsh, sig) per document, hsh the
    distinct hashed ``ngram``-word shingles (integer set ops downstream,
    md5 once) and sig their signature. Documents too short to shingle
    drop out here. Shared by the batch ``minhash_pairs`` and the
    streaming near-dup ingest gate, so both sign identically."""
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("txt"))
        .withColumn("shingles", word_ngrams(F.col("txt"), ngram))
        .drop("txt")
        .filter(F.size("shingles") > 0)
        .withColumn(
            "hsh", F.expr(f"array_distinct({hashed_shingles_sql('shingles')})")
        )
        .drop("shingles")
        .withColumn("sig", F.expr(minhash_signature_sql("hsh", num_hashes, seed)))
    )


def minhash_band_hashes(
    signed: DataFrame, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """(id, sig) → exploded LSH band keys (id, band, bhash): the signature
    is sliced into ``bands`` equal runs and each run md5-folds to one
    16-byte band hash. This is the ONLY payload that rides the LSH
    equi-join (batch ``minhash_pairs``) or persists in the streaming band
    index (``streaming/contract.py:streaming_ingest_neardup``) — shingle
    sets and text never leave the signing stage."""
    rows_per_band = num_hashes // bands
    return signed.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.slice(
                                F.col("sig"), b * rows_per_band + 1, rows_per_band
                            ).cast("array<string>"),
                        )
                    ).alias("bhash"),
                ),
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bhash").alias("bhash"))


def fingerprint_bands(fp: DataFrame, col: str, bands: int, bits: int) -> DataFrame:
    """Explode a frame with an integer fingerprint column ``col`` to one
    row per band: its columns plus ``band`` (index) and ``bv`` (bits
    ``band*bits`` to ``(band+1)*bits - 1`` of the fingerprint), the LSH
    keys Hamming near-dup candidates join on. Two fingerprints within
    Hamming distance d < ``bands`` agree on some band (pigeonhole). The
    slices are unrolled with LITERAL shift widths: shiftright takes a
    Python int, and a float-pow division would corrupt low bits once the
    fingerprint exceeds 2^53."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(col), b * bits)
                .bitwiseAND(F.lit((1 << bits) - 1))
                .alias("bv"),
            )
            for b in range(bands)
        ]
    )
    return fp.select(*fp.columns, F.explode(band_structs).alias("bk")).select(
        *fp.columns, F.col("bk.band").alias("band"), F.col("bk.bv").alias("bv")
    )


def cap_buckets(banded: DataFrame, max_bucket: int) -> DataFrame:
    """``banded`` without the rows of every (``band``, ``bv``) bucket that
    holds more than ``max_bucket`` of them: the LSH skew guard, applied
    before a band join.

    LSH bucket sizes are data-dependent and pair work is Σc² — one
    degenerate band value (flat images, boilerplate graphics,
    near-constant textures hashing to alternating-bit patterns) turns the
    candidate join quadratic. Measured on the ×100 corpus: the uncapped
    4×15 dHash banding carries ~303 M ordered candidate pairs, 10× the
    uniform-hash estimate, almost all from a handful of degenerate
    alternating-bit bucket values; capping at 64 removes them while every
    GENUINE near-dup group small enough to review survives (true
    re-encode groups are small; mass-duplicate groups are Hamming-0 and
    belong to the exact-hash dedup-cut tier, which has no pair
    explosion)."""
    ok_buckets = (
        banded.groupBy("band", "bv")
        .count()
        .filter(F.col("count") <= max_bucket)
        .select("band", "bv")
    )
    return banded.join(ok_buckets, ["band", "bv"])


def band_pairs(
    banded: DataFrame, key: str, id_col: str = "id", carry: str | None = None
) -> DataFrame:
    """Distinct candidate pairs (id_a, id_b), id_a < id_b, of documents
    that share a (``band``, ``key``) bucket of ``banded``: the LSH band
    self-join. Only the ids, the band keys and ``carry`` (if given,
    returned as ``<carry>a`` / ``<carry>b``) ride the shuffle."""
    out = [F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")]
    if carry is not None:
        out += [F.col(f"l.{carry}").alias(f"{carry}a"), F.col(f"r.{carry}").alias(f"{carry}b")]
    return (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col(f"l.{key}") == F.col(f"r.{key}"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(*out)
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash-LSH banding, verified by
    exact n-gram Jaccard ≥ threshold.

    Plan shape at scale: shingle+sign each doc (one scan, no shuffle) →
    explode to (band_id, band_hash, doc) → self-equi-join on the band key
    (shuffle on a high-cardinality key) → distinct pairs → exact verify on
    the pair's shingle sets. The full cross product never exists.
    """
    docs = minhash_signed(df, text_col, id_col, ngram, num_hashes, seed)
    # consumed twice (banding join + verify); hashes/sigs are smaller
    # than the text they replace but still corpus-shingle-sized, so the
    # share is budgeted from the scan's file bytes
    docs = share(docs, estimated_input_bytes(df) * _CORPUS_CACHE_EXPANSION)
    # Banding carries ONLY (id, band key) through the self-join — the
    # shingle arrays would otherwise dominate shuffle volume.
    banded = minhash_band_hashes(docs, num_hashes=num_hashes, bands=bands)
    cand = band_pairs(banded, "bhash")
    sets = docs.select("id", "hsh")
    pairs = (
        cand.join(sets.withColumnRenamed("id", "id_a").withColumnRenamed("hsh", "sh_a"), "id_a")
        .join(sets.withColumnRenamed("id", "id_b").withColumnRenamed("hsh", "sh_b"), "id_b")
        # cheap size-ratio prune: J(A,B) <= min/max, so min/max < t can't pass
        .filter(
            F.least(F.size("sh_a"), F.size("sh_b"))
            >= F.lit(threshold) * F.greatest(F.size("sh_a"), F.size("sh_b"))
        )
    )
    return (
        pairs.withColumn("jac", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", round_half_up(F.col("jac"), 6).alias("jaccard"))
    )


def _allpairs_candidates(docs: DataFrame, threshold: float) -> DataFrame:
    """AllPairs candidate generation over prepared (id, blk, sz, hsh)
    rows: explode each set's prefix (|X| - ceil(t|X|) + 1 leading
    elements under the set's ordering), equi-join on (block, token) with
    the size-ratio prune. Returns the (id_a, id_b) candidate superset —
    factored out so tests can measure candidate counts per ordering."""
    prefix_len = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    pref = docs.select(
        "id",
        "blk",
        "sz",
        F.explode(F.slice(F.col("hsh"), F.lit(1), prefix_len)).alias("tok"),
    )
    return (
        pref.alias("l")
        .join(
            pref.alias("r"),
            (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.tok") == F.col("r.tok"))
            & (F.col("l.id") < F.col("r.id"))
            # size-ratio prune at candidate time: J <= min/max < t fails
            & (
                F.least(F.col("l.sz"), F.col("r.sz"))
                >= F.lit(threshold) * F.greatest(F.col("l.sz"), F.col("r.sz"))
            ),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _allpairs_prepared(
    df: DataFrame,
    block_key: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    freq_order: bool = False,
) -> DataFrame:
    """The shingle-set preparation stage of ngram_jaccard_pairs (shared
    with tests): (id, blk, sz, hsh) with hsh sorted by hash value or,
    with freq_order, by global document frequency (rarest first)."""
    docs = (
        df.select(
            F.col(id_col).alias("id"),
            block_key.alias("blk"),
            F.col(text_col).alias("txt"),
        )
        .select("id", "blk", word_ngrams(F.col("txt"), ngram).alias("shingles"))
        .filter(F.size("shingles") > 0)
        .select(
            "id",
            "blk",
            F.sort_array(
                F.array_distinct(
                    F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
                )
            ).alias("hsh"),
        )
        .withColumn("sz", F.size("hsh"))
    )
    if freq_order:
        # Canonical AllPairs ordering: sort each shingle set by GLOBAL
        # document frequency (rarest first, hash as tiebreak) so prefixes
        # hold rare shingles and candidate pairs shrink by orders of
        # magnitude on stopword-heavy corpora (shared boilerplate). A
        # candidate-generation detail only — the verify is set-based, so
        # the result set is identical under either ordering. Costs one
        # extra shuffle of the (shingle-hash, id) stream joined against
        # the frequency table; worth it exactly when shingle document
        # frequency is skewed. No broadcast hint: the frequency table is
        # DISTINCT-SHINGLE-sized, which at corpus scale is billions of
        # rows — far past the 8 GB broadcast ceiling — so AQE picks
        # broadcast-vs-SMJ from the measured size (ADVICE r03).
        tokfreq = (
            docs.select(F.explode("hsh").alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("tf"))
        )
        docs = (
            docs.select("id", "blk", "sz", F.explode("hsh").alias("tok"))
            .join(tokfreq, "tok")
            .groupBy("id", "blk", "sz")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("tf", "tok"))),
                    lambda s: s["tok"],
                ).alias("hsh")
            )
        )
    return docs


def ngram_jaccard_pairs(
    df: DataFrame,
    block_key: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.5,
    freq_order: bool = False,
) -> DataFrame:
    """Exact near-dup pairs within blocking buckets, found with AllPairs
    prefix filtering (Bayardo/Ma/Srikant, WWW'07 — public algorithm)
    instead of the quadratic in-block self-join.

    Shingle sets are sorted under one global order (their hash value);
    a pair with J >= t MUST share an element inside both sets' prefixes
    of length |X| - ceil(t*|X|) + 1, so exploding only the prefixes and
    equi-joining on (block, token) yields a candidate superset at
    ~token-frequency cost, not block-size-squared cost. Exact Jaccard
    then verifies candidates — the result set is IDENTICAL to the brute
    self-join (same SQL oracle), only the plan differs.

    Shingles are hashed with Spark-native ``xxhash64`` (JVM codegen, no
    md5 string churn): only equality matters for the verify, collisions
    are ~|A|x|B|/2^64 per pair, and the oracle compares against
    string-set Jaccard, so the hash never needs to be reproduced
    elsewhere."""
    docs = _allpairs_prepared(df, block_key, text_col, id_col, ngram, freq_order)
    # consumed by candidate generation AND verify; hashed-shingle rows
    # are smaller than the text they replace but corpus-shingle-sized —
    # budgeted like the minhash prepared frame (SCALE.md §caches)
    docs = share(docs, estimated_input_bytes(df) * _CORPUS_CACHE_EXPANSION)
    cand = _allpairs_candidates(docs, threshold)
    sets = docs.select("id", "hsh")
    return (
        cand.join(sets.select(F.col("id").alias("id_a"), F.col("hsh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("hsh").alias("sh_b")), "id_b")
        .withColumn("jac", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jac") >= threshold)
        .select("id_a", "id_b", round_half_up(F.col("jac"), 6).alias("jaccard"))
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """DIRECTED shingle-containment pairs: (id_a, id_b) with
    C(A,B) = |S_A ∩ S_B| / |S_A| >= threshold — the asymmetric near-dup
    tier Jaccard misses by construction (a short document quoted whole
    inside a long one has tiny Jaccard but containment ~1), the signal
    for quote extraction, boilerplate supersets, and near-superset dedup.

    Prefix filter for containment (the PPJoin family, Xiao et al.,
    WWW'08 — public algorithm): if |A∩B| >= t·|A| then A's prefix of
    length |A| − ceil(t·|A|) + 1 under a single global element order
    must share >= 1 element with B's FULL set (otherwise the
    intersection fits inside A's suffix of ceil(t·|A|) − 1 elements).
    So candidates come from joining A-PREFIXES against the full postings
    list — never full×full. Containment admits no size-ratio prune (a
    tiny A inside a huge B is exactly the signal), which makes the
    rarest-first frequency ordering load-bearing rather than optional:
    prefixes then hold globally rare shingles, so the per-token join
    fan-out (prefix_df × full_df) stays bounded on stopword-heavy
    corpora where a hash ordering would post hot shingles into prefixes.
    Exact set containment verifies candidates; the result is identical
    to the quadratic self-join (the DuckDB oracle's formulation)."""
    docs = _allpairs_prepared(df, F.lit(""), text_col, id_col, ngram, freq_order=True)
    docs = share(docs, estimated_input_bytes(df) * _CORPUS_CACHE_EXPANSION)
    p_len = (F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1).cast("int")
    pref = docs.select(
        "id", F.explode(F.slice(F.col("hsh"), F.lit(1), p_len)).alias("tok")
    )
    full = docs.select(F.col("id").alias("id_b"), F.explode("hsh").alias("tok"))
    cand = (
        pref.join(full, "tok")
        .filter(F.col("id") != F.col("id_b"))
        .select(F.col("id").alias("id_a"), "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = docs.select("id", "hsh")
    cont = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))) / F.size(
        F.col("sh_a")
    )
    return (
        cand.join(
            sets.select(F.col("id").alias("id_a"), F.col("hsh").alias("sh_a")),
            "id_a",
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("hsh").alias("sh_b")),
            "id_b",
        )
        .withColumn("cont", cont)
        .filter(F.col("cont") >= threshold)
        .select("id_a", "id_b", round_half_up(F.col("cont"), 6).alias("containment"))
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    planes: list[list[float]],
    dim: int = 64,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup: SimHash-bucket candidates → exact cosine
    ≥ threshold. Same LSH shape as similarity.lsh_bucketed_topk."""
    from kafka_streams_example_spark.operators.similarity import (
        _dot_sql,
        norm,
        simhash_bits,
    )

    docs = (
        emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("bucket", simhash_bits("v", planes, dim))
        .withColumn("nrm", norm("v", dim))
    )
    # explicit column renames on each side: DataFrame.alias self-joins on
    # derived columns can hit Catalyst attribute-resolution internal errors.
    # Norms fold once per ROW here, before the bucket self-join — the
    # per-pair cosine then costs one dot-fold, not three (bit-identical:
    # dot/(nrm_a*nrm_b) is the same double expression either way).
    l = docs.select(
        F.col("id").alias("id_a"), F.col("v").alias("v_a"), "bucket",
        F.col("nrm").alias("nrm_a"),
    )
    r = docs.select(
        F.col("id").alias("id_b"), F.col("v").alias("v_b"), "bucket",
        F.col("nrm").alias("nrm_b"),
    )
    return (
        l.join(r, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos",
            F.expr(f"{_dot_sql('v_a', 'v_b', dim)} / (nrm_a * nrm_b)"),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cosine"))
    )


_SIMHASH_BITS = 60  # stable_long is 60 bits


def simhash64(shingles: Column) -> Column:
    """64-bit SimHash of a shingle set: bit j of the result is the sign of
    Σ_shingles (bit j of hash(shingle) ? +1 : -1). Pure array expressions.

    Single-pass form: ONE ``aggregate`` fold accumulates all 60 bit-vote
    counters as an array (``zip_with`` against the bit-index sequence),
    then one more fold sums the winning bits' place values. The earlier
    60-separate-folds form built an expression tree large enough to risk
    falling out of whole-stage codegen; this one is O(bits) nodes.
    """
    h = F.transform(shingles, lambda s: stable_long(s))
    bit_idx = F.sequence(F.lit(0), F.lit(_SIMHASH_BITS - 1))
    votes = F.aggregate(
        h,
        F.array_repeat(F.lit(0), _SIMHASH_BITS),
        lambda acc, x: F.zip_with(
            acc,
            bit_idx,
            lambda a, j: a + F.when(F.getbit(x, j) == 1, 1).otherwise(-1),
        ),
    )
    place = F.array(*[F.lit(1 << j).cast("long") for j in range(_SIMHASH_BITS)])
    return F.aggregate(
        F.zip_with(
            votes, place, lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
