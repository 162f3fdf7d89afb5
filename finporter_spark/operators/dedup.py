"""Deduplication operators for training-data pipelines (SURVEY §2B L1/L2).

All are compositions of built-in functions — fully JVM-side, no Python in
the hot path — and all follow the staged-sketch design from SURVEY §4: at
100 TB, per-partition signatures first, then one banded shuffle; never a
crossJoin.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from finporter_spark.caching import load_or_build


def normalized_text(col: Column) -> Column:
    """Canonical text normalization for hashing: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """L1 exact dedup: sha256 of normalized text; keep one doc per hash.

    One hash projection + one groupBy shuffle on the 256-bit key —
    uniformly distributed, so no skew at any scale. Returns the surviving
    ids with their content hash.
    """
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(
            F.col(id_col),
            F.sha2(normalized_text(F.col(text_col)), 256).alias("content_hash"),
        )
        .groupBy("content_hash")
        .agg(agg.alias(id_col))
        .select(id_col, "content_hash")
    )


def keep_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """O5 keep-latest dedup: deterministic dropDuplicates via rank-1 window.

    ``dropDuplicates`` keeps an arbitrary row; entity upsert semantics
    (ENTITY_KEYS) need "latest wins", so order explicitly and keep rank 1.
    One shuffle on the entity keys.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles of normalized text as array<string>.

    Built from n shifted copies of the token array zipped together —
    linear in document length. (The tempting per-element formulation
    ``transform(toks, (_, i) -> concat(element_at(toks, i+1), ...))``
    re-evaluates the split per element because higher-order lambdas defeat
    codegen common-subexpression elimination: O(tokens²) per doc, measured
    ~20x slower on 300-word docs.)
    """
    toks = F.split(normalized_text(col), " ")
    # NOT Integer.MAX_VALUE: slice computes start+length in int, which
    # would overflow to an empty slice. 1e8 tokens/doc is a safe cap.
    maxlen = 100_000_000
    zipped = F.arrays_zip(
        *[F.slice(toks, j + 1, maxlen).alias(f"t{j}") for j in range(n)]
    )
    joined = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"t{j}"] for j in range(n)])
    )
    # drop the n-1 tail entries built from padded nulls
    return F.slice(joined, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0)))


def md5_long(col: Column, nhex: int = 15) -> Column:
    """First ``nhex`` hex digits of md5 as a non-negative bigint.

    The deterministic cross-engine hash family (the a19 KMV pattern):
    md5 produces identical hex in Spark, DuckDB, and Python hashlib, so
    sketches built on it are bit-identical cross-engine and an
    APPROXIMATE operator can still carry a full value-hash oracle.
    15 hex digits = 60 bits — fits signed bigint, always non-negative,
    so its decimal string form is also identical across engines (used
    for band keys). DuckDB equivalent:
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(col), 1, nhex), 16, 10).cast("bigint")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per doc as columns h0..h{k-1} + array ``sig``.

    Shape: explode shingles -> one xxhash64(shingle, seed_i) per seed ->
    groupBy(doc) with k ``min`` aggregates. The k mins ride ONE shuffle
    with map-side partial aggregation (each mapper pre-reduces to one row
    per local doc), so the exchanged volume is ~#docs × k longs regardless
    of document length — the formulation that survives 100 TB. (A
    per-row ``array_min(transform(...))`` over a shingle array is
    shuffle-free but re-evaluates the shingle expression per seed —
    measured 80× slower — and is why this uses explode+agg.)

    The k-member hash family is derived from ONE string hash per shingle
    (``xxhash64(shingle)``), re-hashed with each seed over its 8-byte
    value — the variable-length shingle bytes are scanned once, not k
    times. Same pairwise-collision behavior (each family member is still
    a uniform 64-bit hash of the shingle identity). At sf0.1's short
    documents both forms run ~1 s warm (A/B measured; overhead-bound);
    the per-seed hashing cost the derivation removes grows with shingle
    length × k, which is what matters on real corpora.

    ``hash_family``: ``"xxhash64"`` (default, fastest JVM path) or
    ``"md5"`` — same derivation shape but every member hash is
    :func:`md5_long`, reproducible in DuckDB SQL, so the resulting
    near-dup query carries a FULL value-hash oracle instead of a
    rows-only recall check (the a19 pattern). Collision behavior is
    equivalent (uniform 60-bit vs 64-bit family); md5 costs more per
    shingle, which lands in the once-per-corpus signature staging pass,
    not in steady-state queries.
    """
    return minhash_signatures_fn(
        text_col, id_col, shingle_n, num_hashes, hash_family
    )(df)


def minhash_signatures_fn(
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    hash_family: str = "xxhash64",
):
    """Pre-built :func:`minhash_signatures` as a reusable ``fn(df) -> sig``.

    Building the k member expressions costs k+ py4j round trips of pure
    driver time (~0.8 s at k=32 — measured in the x21 streaming sink,
    where it was paid PER MICRO-BATCH). Column objects are unbound
    expression trees, so a caller that signatures many DataFrames (a
    foreachBatch sink, a loop over corpus shards) builds them once here
    and applies the returned closure per batch — identical expressions,
    identical results, construction cost paid once."""
    sh_expr = F.explode(shingles(F.col(text_col), shingle_n)).alias("sh")
    if hash_family == "md5":
        shh_expr = md5_long(F.col("sh")).alias("shh")
        members = [
            F.min(
                md5_long(
                    F.concat_ws(
                        ":", F.col("shh").cast("string"), F.lit(str(i))
                    )
                )
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    elif hash_family == "xxhash64":
        shh_expr = F.xxhash64("sh").alias("shh")
        members = [
            F.min(F.xxhash64("shh", F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")

    def apply(df: DataFrame) -> DataFrame:
        ex = df.select(F.col(id_col), sh_expr).select(
            F.col(id_col), shh_expr
        )
        return ex.groupBy(id_col).agg(*members)

    return apply


def load_or_build_signatures(
    df: DataFrame,
    cache_path: str,
    fingerprint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signatures as persisted DATASET state (mirrors
    ``similarity.load_or_train_centroids_det``): the signature table is a
    property of (corpus, shingle_n, num_hashes), not of any one query —
    build it once per corpus version, persist as parquet, and let every
    near-dup / clustering / decontamination job read it back.

    ``fingerprint`` identifies the corpus version (use
    ``operators.scale.source_fingerprint``); the build params are folded
    into the cache key so changing k or n forces a rebuild even at the
    same path. Cache rules: :func:`caching.load_or_build`.

    At 100 TB this is the difference between one signature pass per
    corpus snapshot (~#docs x k longs on disk, trivially small next to
    the text) and one per dedup job.
    """
    spark = df.sparkSession
    key = f"{fingerprint}|n={shingle_n}|k={num_hashes}|id={id_col}"
    if hash_family != "xxhash64":  # keep pre-existing cache keys valid
        key += f"|hf={hash_family}"

    def build(path):
        minhash_signatures(
            df, text_col, id_col, shingle_n, num_hashes, hash_family
        ).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    return load_or_build(
        cache_path, key, build, lambda: spark.read.parquet(cache_path)
    )


def band_hash(b: int, rows_per_band: int, hash_family: str) -> Column:
    """Hash of band ``b``'s signature members (columns ``h{i}``).

    md5 family: md5 of the ':'-joined decimal member values — members
    are non-negative (:func:`md5_long`), so their decimal string form
    (and hence the band key) is identical in DuckDB SQL. xxhash64
    family: the multi-arg JVM hash (fast path)."""
    cols = [F.col(f"h{b * rows_per_band + j}") for j in range(rows_per_band)]
    if hash_family == "md5":
        return F.md5(F.concat_ws(":", *[c.cast("string") for c in cols]))
    return F.xxhash64(*cols)


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
    signatures: DataFrame | None = None,
    max_bucket_size: int | None = None,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """L2 near-dup detection via MinHash + LSH banding.

    Pipeline:
      1. minhash signatures (one shuffle, see minhash_signatures) — or,
         when ``signatures`` is given (a persisted table from
         :func:`load_or_build_signatures` with columns ``id_col,
         h0..h{k-1}``), skip the signature pass entirely and read the
         dataset-state table;
      2. split the signature into ``bands`` bands, hash each, explode ->
         (band_id, band_hash, doc);
      3. docs sharing any band bucket become candidate pairs (equi-join
         on the bucket, id<id to avoid dupes/self);
      4. verify candidates with estimated Jaccard = fraction of equal
         minhash components (map-side).

    Returns (id_a, id_b, est_jaccard) pairs ≥ threshold. At 100 TB the
    bucket join replaces the O(n²) crossJoin with work proportional to
    actual collisions; ``max_bucket_size`` caps hot buckets (boilerplate
    corpora) with a count filter BEFORE the self-join: a bucket of B rows
    contributes B² candidate pairs, so one 90%-duplicate bucket re-creates
    the quadratic blowup banding exists to avoid. Over-cap buckets are
    dropped — their members are near-identical boilerplate whose
    within-group joining belongs to exact dedup (l1) / representative
    sampling, not pairwise scoring; pairs witnessed by any surviving band
    bucket are kept (tests/test_scale.py pins both the bound and the
    minority-pair recall under a 90%-hot fixture).
    """
    rows_per_band = num_hashes // bands
    raw = (
        signatures
        if signatures is not None
        else minhash_signatures(
            df, text_col, id_col, shingle_n, num_hashes, hash_family
        )
    )
    sig = raw.select(
        F.col(id_col),
        F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
        *[
            band_hash(b, rows_per_band, hash_family).alias(f"b{b}")
            for b in range(bands)
        ],
        # the LSH self-join consumes this twice; without materialization the
        # whole tokenize->shingle->minhash pipeline runs once PER SIDE
        # (measured 2.5s -> 1.5s at sf0.1). Signatures are ~(k+bands)
        # longs/doc — tiny next to the corpus at any scale. A persisted
        # signature table (load_or_build_signatures) skips the pass and
        # the cache altogether: a parquet scan is cheap to run per side.
    )
    if signatures is None:
        sig = sig.cache()
    banded = sig.select(
        id_col,
        "sig",
        F.posexplode(F.array(*[F.col(f"b{b}") for b in range(bands)])).alias(
            "band_id", "band_hash"
        ),
    )
    if max_bucket_size is not None:
        # one extra keyed agg + equi-join on the band key — the band
        # table shuffles on that key for the self-join anyway
        ok_buckets = (
            banded.groupBy("band_id", "band_hash")
            .agg(F.count("*").alias("_bn"))
            .filter(F.col("_bn") <= max_bucket_size)
            .drop("_bn")
        )
        banded = banded.join(ok_buckets, ["band_id", "band_hash"])
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = pairs.select(
        "id_a",
        "id_b",
        (
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
                    lambda v: v == 1,
                )
            )
            / F.lit(float(num_hashes))
        ).alias("est_jaccard"),
    )
    out = est.filter(F.col("est_jaccard") >= jaccard_threshold)
    if signatures is None:
        from finporter_spark.caching import owns_cache

        out = owns_cache(out, sig)
    return out


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) — the 64-bit weighted-bit fingerprint per doc.

    Per distinct word ``shingle_n``-gram shingle, xxhash64; each of the
    64 bit positions votes +1/-1; the sign of the vote sum is the
    fingerprint bit. Shingle features (not bag-of-tokens) follow the
    web-dedup formulation (Manku et al., WWW'07): token features make
    any two docs over a shared vocabulary collide — A/B-measured at
    sf0.1, switching tokens->3-shingles cut candidate pairs 98k -> 142
    while raising recall vs exact 3-gram Jaccard 0.19 -> 0.55 at
    Hamming<=3 (``shingle_n=1`` recovers token features).

    Computed as explode -> groupBy(doc) with packed ``sum`` aggregates —
    one shuffle with map-side combine (same scaling argument as
    minhash_signatures). Deterministic (no approximation lives here —
    the ≈ part of SimHash is the fingerprint's relationship to true
    similarity, and candidate blocking is pigeonhole-exact); exposed
    separately so tests can brute-force-verify the blocked join against
    these values.

    ``hash_family="md5"`` uses :func:`md5_long` (60 usable bits — pass
    ``bits=60``) so the fingerprints, and therefore the blocked join's
    exact output, are reproducible in DuckDB SQL: the catalog's simhash
    query carries a full value-hash oracle on this family.
    """
    if hash_family == "md5":
        if bits > 60:
            raise ValueError("md5 family carries 60 bits; pass bits<=60")
        hash_col = md5_long(F.col("tok"))
    elif hash_family == "xxhash64":
        hash_col = F.xxhash64("tok")
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    ex = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(shingles(F.col(text_col), shingle_n))
        ).alias("tok"),
    ).select(F.col(id_col), hash_col.alias("h"))
    # Bit-vote aggregation with 4 one-counts PACKED per long (16-bit
    # fields): 16 aggregate buffers instead of 64 — measured 2x warm and
    # 7x cold (codegen compiles 1/4 the aggregate expressions). The
    # per-bit vote 2c-n > 0 is recovered as 2c > n, identical bits.
    # Field width caps docs at 65535 distinct tokens — far above any
    # real document; shard the vote by token-range first if ever needed.
    packed = ex.groupBy(id_col).agg(
        F.count("*").alias("_n"),
        *[
            F.sum(
                sum(
                    [
                        F.shiftleft(
                            F.shiftrightunsigned("h", g * 4 + k)
                            .bitwiseAND(F.lit(1))
                            .cast("long"),
                            16 * k,
                        )
                        for k in range(4)
                    ],
                    F.lit(0).cast("long"),
                )
            ).alias(f"p{g}")
            for g in range(bits // 4)
        ],
    )
    fp = F.lit(0).cast("long")
    for i in range(bits):
        c_i = F.shiftrightunsigned(
            F.col(f"p{i // 4}"), 16 * (i % 4)
        ).bitwiseAND(F.lit(0xFFFF))
        fp = fp.bitwiseOR(
            F.when(
                c_i * 2 > F.col("_n"), F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    return packed.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 3,
    block_bits: int = 16,
    shingle_n: int = 3,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup: fingerprints (simhash_fingerprints) + blocked
    Hamming join.

    Candidate generation uses the pigeonhole trick: split the 64 bits into
    ``64/block_bits`` blocks; two fingerprints within ``max_hamming`` must
    share at least one exact block when blocks > max_hamming. Equi-join on
    (block_idx, block_value), then verify exact Hamming via bit_count(xor).
    """
    n_blocks = bits // block_bits
    # one long per doc; materialized because the blocked self-join below
    # reads it twice (same argument as the minhash signature cache)
    sigs = simhash_fingerprints(
        df, text_col, id_col, bits, shingle_n, hash_family
    ).cache()

    blocks = sigs.select(
        id_col,
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", b * block_bits).bitwiseAND(
                        F.lit((1 << block_bits) - 1)
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    from finporter_spark.caching import owns_cache

    return owns_cache(
        cand.select(
            "id_a",
            "id_b",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias(
                "hamming"
            ),
        ).filter(F.col("hamming") <= max_hamming),
        sigs,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via an inverted shingle index.

    ``|A ∩ B|`` comes from counting shared shingles through a
    shingle-grouped join (never a crossJoin); ``|A ∪ B| = |A|+|B|-|A∩B|``.
    ``max_df`` drops ultra-common shingles (stop-shingles) first — the
    standard skew guard: a shingle appearing in k docs contributes k² pair
    candidates.
    """
    ex = df.select(
        F.col(id_col), F.explode(F.array_distinct(shingles(F.col(text_col), n))).alias("sh")
    )
    if max_df is not None:
        hot = ex.groupBy("sh").count().filter(F.col("count") > max_df).select("sh")
        ex = ex.join(hot, "sh", "left_anti")
    sizes = ex.groupBy(id_col).agg(F.count("*").alias("sz"))
    a, b = ex.alias("a"), ex.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def upsert_by_key(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """Entity upsert (merge): updates win over existing rows on the
    entity key (ENTITY_KEYS drive this for the 7 standardized tables).

    Shape: union + keep-latest — one shuffle on the key, no join. The
    ``order_by`` must rank update rows first (e.g. a source-priority or
    timestamp column, descending). At warehouse scale this is the
    re-partition-once merge pattern; storage-level MERGE INTO belongs to
    the table format, not the engine.
    """
    return keep_latest(
        existing.unionByName(updates), keys=list(keys), order_by=order_by
    )


def apply_changelog(
    base: DataFrame,
    changelog: DataFrame,
    base_key: str,
    log_key: str,
    op_col: str,
    order_by: Sequence[Column],
    payload_cols: Sequence[str],
) -> DataFrame:
    """CDC merge (the three-verb MERGE INTO from primitives): collapse
    the changelog to its NEWEST op per key (``order_by`` descending-rank
    semantics — first row wins), then FULL-outer-join the base once and
    let that final op decide: 'D' drops the row (a 'D' on an absent key
    is a no-op), 'U'/'I' on an existing key exposes the changelog
    payload, 'U'/'I' on a NEW key is a true WHEN-NOT-MATCHED insert
    (base columns null except ``base_key``, which is populated from the
    changelog key), and untouched keys pass through.

    A D followed (in ``order_by`` rank) by a later U resurrects the key;
    a U followed by a later D deletes it — only the final op matters,
    which is what makes the apply one window over the (small) changelog
    plus one join, with the 100 TB base never re-sorted. Returns the
    base columns plus the changelog's ``log_key``/``payload_cols``
    (null for untouched rows) and the final ``op_col`` ('D' rows
    already dropped).
    """
    w = Window.partitionBy(log_key).orderBy(*order_by)
    latest = (
        changelog.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(log_key, op_col, *payload_cols)
    )
    key_type = dict(base.dtypes)[base_key]
    joined = base.join(
        latest, base[base_key] == latest[log_key], "full_outer"
    )
    # Inserted (log-only) rows carry the changelog key into the base's
    # key column; every other base column is null for them, mirroring
    # MERGE's WHEN NOT MATCHED THEN INSERT of the declared columns.
    merged_key = F.coalesce(
        base[base_key], latest[log_key].cast(key_type)
    ).alias(base_key)
    out_cols = [merged_key if c == base_key else base[c] for c in base.columns]
    out_cols += [latest[c] for c in (log_key, op_col, *payload_cols)]
    return joined.select(*out_cols).filter(
        F.col(op_col).isNull() | (F.col(op_col) != "D")
    )
