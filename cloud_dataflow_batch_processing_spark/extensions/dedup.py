"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard
(SURVEY.md §2.3 / BASELINE.json north-star: LLM-data-pipeline dedup).

Engine-neutral design: all hashing is rolling-polynomial arithmetic mod
1e9+7 (functions/text.py) instead of murmur3/xxhash64, so every stage —
token hashes, shingles, MinHash signatures, LSH bands, SimHash bits —
can be emitted as equivalent DuckDB SQL (the ``*_sql`` twins) and
verified by the driver's oracle. The cost vs native hash functions is a
few extra codegen ops per token; the benefit is a *provably correct*
dedup pipeline.

Scale posture (100 TB):
- Signature computation is per-row, no shuffle, whole-stage codegen.
- The LSH candidate join shuffles on (band_id, band_hash) — collision
  groups, not the cross product. Skewed mega-buckets (e.g. boilerplate
  docs) are handled by AQE skew-join splitting; a hard cap per bucket
  (``max_bucket_size``) guards against adversarial skew.
- Exact-verify (Jaccard on shingle-hash sets) touches only candidate
  pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from cloud_dataflow_batch_processing_spark.caching import managed_cache
from cloud_dataflow_batch_processing_spark.functions.text import (
    HASH_MOD as M,
    HASH_MULT,
    rolling_hash,
    rolling_hash_sql,
    tokens,
    tokens_sql,
)

# MinHash configuration: 16 hashes = 4 bands x 4 rows. Seeds are fixed
# small odd/prime-ish constants so both engines compute identically.
NUM_HASHES = 16
NUM_BANDS = 4
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
SHINGLE_K = 3


def _seed_a(j: int) -> int:
    return 2 * j + 3


def _seed_b(j: int) -> int:
    return 7919 * j + 13


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: one survivor (min id) per distinct key, with the
    duplicate count. A single hash-aggregate shuffle on the content key
    — ``dropDuplicates`` keeps an arbitrary row; this keeps a
    deterministic one."""
    return df.groupBy(*cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


# ---------------------------------------------------------------------------
# Shingles and MinHash signatures (Spark Column builders)
# ---------------------------------------------------------------------------


def token_hashes(col: str) -> Column:
    """Rolling hash of each whitespace token."""
    return F.transform(tokens(col), lambda t: rolling_hash(t))


def shingles_from_token_hashes(th: Column, k: int = SHINGLE_K) -> Column:
    """Shingle hashes from an *already-computed* token-hash array column.

    Staging matters: higher-order-function lambdas are interpreted (not
    whole-stage codegen), and Spark does not CSE a repeated expression
    subtree across output columns — so every consumer must reference a
    materialized column, not re-embed the char-fold tree. See
    ``minhash_near_dup_pairs`` for the staged plan."""

    def combine(i: Column) -> Column:
        acc = F.element_at(th, i)
        for off in range(1, k):
            acc = (acc * HASH_MULT + F.element_at(th, i + off)) % M
        return acc

    return F.when(
        F.size(th) >= k,
        F.transform(F.sequence(F.lit(1), F.size(th) - k + 1), combine),
    ).otherwise(F.array().cast("array<bigint>"))


def shingle_hashes(col: str, k: int = SHINGLE_K) -> Column:
    """Hashes of k-token shingles, combined as
    ``((h1*31 + h2) % M * 31 + h3) % M`` — order-sensitive, engine-neutral.
    Convenience single-expression form; for multi-consumer plans use the
    staged ``shingles_from_token_hashes``."""
    return shingles_from_token_hashes(token_hashes(col), k)


def minhash_from_shingles(sh: Column, num_hashes: int = NUM_HASHES) -> list[Column]:
    """MinHash lanes from an already-computed shingle-hash column:
    ``min over shingles of (a_j*s + b_j) % M``; empty shingle set →
    sentinel M (matches COALESCE in the oracle)."""
    return [
        F.coalesce(
            F.array_min(F.transform(sh, lambda s: (s * _seed_a(j) + _seed_b(j)) % M)),
            F.lit(M),
        ).alias(f"mh{j}")
        for j in range(num_hashes)
    ]


def minhash_signature(col: str, num_hashes: int = NUM_HASHES) -> list[Column]:
    """Single-expression MinHash lanes (each lane re-embeds the shingle
    tree — fine for a few lanes; use the staged form for all 16)."""
    return minhash_from_shingles(shingle_hashes(col), num_hashes)


def band_hash(sig_cols: list[Column | str], band: int) -> Column:
    """Fold one band's signature rows into a single bucket key."""
    vals = [
        F.col(c) if isinstance(c, str) else c
        for c in sig_cols[band * ROWS_PER_BAND : (band + 1) * ROWS_PER_BAND]
    ]
    acc: Column = vals[0]
    for v in vals[1:]:
        acc = (acc * HASH_MULT + v) % M
    return acc


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    max_bucket_size: int = 1000,
    fast_hashing: bool = True,
    materialize: str = "cache",
    scratch_dir: str | None = None,
    checkpoint_files: int | None = None,
    th_col: str | None = None,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline:

    shingle → 16 minhashes → 4 band buckets → self-join per bucket →
    exact shingle-set Jaccard verify ≥ threshold.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, rounded to 4.
    ``max_bucket_size`` drops degenerate buckets (all-identical
    boilerplate) before the join — at 100 TB a single mega-bucket would
    otherwise produce a quadratic pair blowup.

    ``fast_hashing`` (the default) runs the token-hash stage as the
    Arrow-batched pandas_udf twin (``functions/text_fast.py``) — ~27%
    faster cold at sf0.1 and the gap widens with document length, so
    it is the production path for large corpora. ``fast_hashing=False``
    keeps the pure-Column HOF fold (interpreted, JVM-only) as the
    oracle-reference variant; both compute bit-identical values, so
    the same DuckDB oracle verifies either path and bench carries both.

    ``materialize`` picks how the guarded bands frame is held for its
    self-join (results identical; plan shape differs). In every mode
    the self-join plans fresh (band_id, bh) exchanges on both sides —
    the shape AQE's OptimizeSkewedJoin can split:

    - ``"cache"`` (default, right at bench/iterative scale): executor
      cache — repeated invocations in one session scan the cache
      instead of recomputing the hash pipeline.
    - ``"checkpoint"`` (the 100 TB fault-isolation posture): write the
      guarded bands to ``scratch_dir`` parquet and re-read — a
      corpus-scale frame won't fit in cache, and the lineage cut
      survives executor loss (test_dedup_lsh_adversarial_skew drives
      this mode and pins the AQE skew split).
      ``checkpoint_files`` round-robins the write into that many files:
      skew-splitting a reduce partition works by regrouping MAP-side
      blocks, so every band bucket must span multiple checkpoint files
      (round-robin guarantees it; hash layout would put a hot bucket in
      ONE file and make its reduce partition unsplittable). It also
      bounds file count/size, which is how you'd size a 100 TB scratch
      dataset anyway.
    - ``None``: no explicit materialization — the two self-join sides
      are identical subplans, so ReuseExchange serves both from ONE
      shuffle write (the shuffle itself is the materialization point).
      The fastest one-shot plan at sf0.1; right whenever the job runs
      the pipeline once and executor loss can rerun the stage.
    - ``"bucketed"`` (VERDICT r9 #6): persist the SIGNATURE frame as a
      parquet table bucketed+sorted by ``__id``; both wide fetch joins
      then inherit the bucket distribution and never re-exchange the
      shingle arrays, and the store is reusable across invocations
      (the incremental/repeated-dedup path). Bands take the
      ReuseExchange posture. A/B vs cache/checkpoint at 500k/5M in
      NOTES.md ("Minhash bucketed signature store A/B", round 10).
    """
    # Staged plan — each expensive array is computed once per row:
    #   stage 1: char-fold token hashes   (the dominant cost)
    #   stage 2: shingle combination
    #   stage 3: 16 minhash lanes + distinct shingle set
    # then cache: the band explosion, bucket sizing, and the pair join
    # all reuse the signature frame instead of recomputing it 6x.
    sig_frame = minhash_signatures(df, id_col, text_col, fast_hashing, th_col=th_col)
    if materialize == "bucketed":
        # VERDICT r9 #6: persist the SIGNATURE store bucketed (and
        # sorted) by __id — the two wide fetch joins below then consume
        # the store's bucket distribution, so the shingle arrays never
        # re-exchange (the narrow candidate side co-partitions to the
        # bucket count instead). Mirrors substring.py's span store;
        # A/B vs cache/checkpoint and the adoption decision in NOTES.md
        # ("Minhash bucketed signature store A/B", round 10).
        import os
        import uuid

        from cloud_dataflow_batch_processing_spark.caching import (
            register_managed_scratch,
            register_managed_table,
        )

        spark = df.sparkSession
        tag = uuid.uuid4().hex[:12]
        path = register_managed_scratch(
            spark,
            os.path.join(scratch_dir or "spark-warehouse/dedup_sigs_bkt", tag),
        )
        name = register_managed_table(spark, f"sigs_bkt_{tag}")
        nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
        (
            sig_frame.repartition(nb, "__id")
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(nb, "__id")
            .sortBy("__id")
            .option("path", path)
            .saveAsTable(name)
        )
        base = spark.table(name)
    else:
        base = managed_cache(sig_frame)
    sig_cols = [f"mh{j}" for j in range(NUM_HASHES)]
    # ONE scan of the cached signature frame: explode an inline array of
    # (band_id, band_hash) structs — the 4-way union formulation scans
    # the cache once per band (4x the read at 100 TB) for the same rows.
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), band_hash(sig_cols, b).alias("bh"))
            for b in range(NUM_BANDS)
        ]
    )
    # NARROW bands: (__id, band_id, bh) only. The shingle arrays stay in
    # the signature frame and are fetched ONCE per distinct candidate
    # pair after the self-join (see the fetch-then-verify note below) —
    # carrying __sh through the band explosion duplicated every array
    # NUM_BANDS times through the guard, the materialization, and the
    # self-join's exchange/broadcast.
    bands = base.select("__id", F.explode(band_structs).alias("__b")).select(
        "__id", "__b.band_id", "__b.bh"
    )
    sigs = base.select("__id", "__sh")

    # Guard degenerate buckets before the pair join: count per bucket
    # key (a NARROW shuffle — (band_id, bh) only, ~20x fewer bytes than
    # the wide bands rows), keep the OVERSIZED set (pathological, tiny
    # by construction) and broadcast it as a left-anti filter. Measured
    # against a window-count guard at sf0.1: the window variant sorts
    # and shuffles the full wide frame (shingle arrays included) and
    # was ~25% slower end-to-end in every composition. The anti-join
    # formulation also leaves the guarded frame's partitioning
    # unconstrained, so the self-join below plans FRESH exchanges on
    # both sides — the shape AQE's OptimizeSkewedJoin can split
    # (pinned by test_dedup_lsh_adversarial_skew).
    oversized = (
        bands.groupBy("band_id", "bh")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_bucket_size)
        .select("band_id", "bh")
    )
    guarded = bands.join(
        F.broadcast(oversized), on=["band_id", "bh"], how="left_anti"
    )
    if materialize == "cache":
        bands = managed_cache(guarded)
    elif materialize == "checkpoint":
        import os
        import uuid

        from cloud_dataflow_batch_processing_spark.caching import (
            register_managed_scratch,
        )

        path = os.path.join(
            scratch_dir or "spark-warehouse/dedup_bands_ckpt", uuid.uuid4().hex[:12]
        )
        # Scratch follows the managed-cache lifecycle: the next
        # release_managed_caches() deletes it, so repeated invocations
        # in a long session never accumulate orphan checkpoint dirs
        # (the caller just consumes the result before releasing, same
        # contract as the cache mode above).
        register_managed_scratch(df.sparkSession, path)
        to_write = guarded.repartition(checkpoint_files) if checkpoint_files else guarded
        to_write.write.mode("overwrite").parquet(os.path.join(path, "bands"))
        bands = df.sparkSession.read.parquet(os.path.join(path, "bands"))
        # The fault-isolation posture covers the verify stage too: the
        # signature frame (one copy of each shingle array — vs the
        # NUM_BANDS copies the wide-bands layout used to checkpoint) is
        # cut to storage so the pair fetch below never re-runs the hash
        # pipeline after executor loss.
        sigs.write.mode("overwrite").parquet(os.path.join(path, "sigs"))
        sigs = df.sparkSession.read.parquet(os.path.join(path, "sigs"))
    elif materialize == "bucketed":
        # Bands are a NARROW projection of the bucketed signature scan
        # (ids + 4 band hashes); the self-join's two sides are identical
        # subplans, so ReuseExchange serves both from one shuffle write
        # — same posture as materialize=None. The expensive state (the
        # hash pipeline + shingle arrays) is already cut to the store.
        bands = guarded
    elif materialize is None:
        bands = guarded
    else:
        raise ValueError(f"unknown materialize mode {materialize!r}")

    a, b_ = bands.alias("a"), bands.alias("b")
    # Dedup-then-fetch-then-verify (round 8; supersedes both prior
    # orders). The self-join and the candidate dedup move only
    # (doc_a, doc_b) — two longs — and the exact-Jaccard verify runs
    # exactly ONCE per distinct candidate, on shingle sets fetched by
    # joining back to the signature frame:
    #   * round-6 order (dedup WIDE candidates, then verify) shuffled
    #     every band-duplicated candidate with BOTH arrays (14.2M wide
    #     rows, ~GBs, at the 500k dense-vocab corpus);
    #   * round-7 order (verify on the join output, then dedup
    #     survivors) shuffled almost nothing but recomputed the
    #     array_intersect per band-duplicated candidate (<= NUM_BANDS
    #     times per pair) and dragged the arrays through the band
    #     explosion, the checkpoint (4x each array), and the
    #     self-join's exchange/broadcast — measured +47% warm at the
    #     50k bench corpus (same-session interleaved A/B, NOTES.md).
    # This order's wide data volume is O(corpus) — the signature frame
    # crosses each fetch join once — never O(candidates); the
    # O(candidates) shuffles are narrow; intersects are O(distinct
    # candidates). Strictly less work than either prior order at every
    # scale.
    cand = (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("doc_a"),
            F.col("b.__id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # The fetch joins carry the wide arrays on the SIGNATURE side only,
    # hinted shuffle-hash: a sort-merge join would SORT the wide rows
    # (measured: SparkOutOfMemoryError in the SMJ sort at the 5M-doc
    # corpus under local[32]'s per-task memory), and a broadcast would
    # build a corpus-sized wide hash table on every executor. With
    # unique __id keys the hash build per partition is |corpus|/P rows
    # — the one shape that stays bounded at 100 TB by sizing P.
    pairs = cand.join(
        sigs.select(
            F.col("__id").alias("doc_a"), F.col("__sh").alias("sh_a")
        ).hint("shuffle_hash"),
        on="doc_a",
    ).join(
        sigs.select(
            F.col("__id").alias("doc_b"), F.col("__sh").alias("sh_b")
        ).hint("shuffle_hash"),
        on="doc_b",
    )
    # __sh is a DISTINCT set (array_distinct at :213), so the
    # hash-lookup array_intersect is exactly the HOF
    # filter/array_contains fold — but O(|a|+|b|) per pair instead of
    # O(|a|*|b|), which matters precisely when bucket collisions make
    # candidates dense (the adversarial dense-vocab corpus produces
    # 15M candidates at 500k docs; 100-token shingle sets make the
    # HOF fold ~50x more comparisons).
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # Two EMPTY shingle sets (zero-length / sub-k-token docs all share
    # the all-sentinel signature, so they band-collide) leave Jaccard
    # undefined: NULL, matching the oracle's division-by-zero NULL, and
    # the threshold filter drops the pair on both engines — never an
    # ANSI DIVIDE_BY_ZERO (adversarial empty-text sweep).
    jac = F.when(union > 0, F.round(inter.cast("double") / union, 4))
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_from_token_hashes(th: Column) -> Column:
    """32-bit SimHash from an already-computed token-hash column: bit b
    is the majority of token-hash bits at position b. Reference the
    staged ``th`` column — this expression reads it ~65 times and Spark
    does not CSE repeated subtrees."""
    n = F.size(th)

    def bit_contrib(b: int) -> Column:
        ones = F.size(F.filter(th, lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1))
        return F.when(ones * 2 > n, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )

    total = bit_contrib(0)
    for b in range(1, SIMHASH_BITS):
        total = total + bit_contrib(b)
    return total


def simhash(col: str) -> Column:
    """Single-expression SimHash — only for small slices; staged plans
    must select ``token_hashes`` into a column first."""
    return simhash_from_token_hashes(token_hashes(col))


def hamming_distance(a: Column | str, b: Column | str) -> Column:
    """Popcount of XOR — for simhash near-dup thresholds."""
    ac = F.col(a) if isinstance(a, str) else a
    bc = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ac.bitwiseXOR(bc))


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup: band the 32 bits into (max_hamming+1) chunks —
    by pigeonhole, any pair within the Hamming radius shares at least
    one exact chunk — join per chunk, verify true distance."""
    chunks = max_hamming + 1
    width = SIMHASH_BITS // chunks
    base = managed_cache(
        df.select(F.col(id_col).alias("__id"), token_hashes(text_col).alias("__th"))
        .select("__id", simhash_from_token_hashes(F.col("__th")).alias("__sim"))
    )
    # Single-scan chunk explosion (same rationale as the minhash bands).
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_id"),
                F.col("__sim")
                .bitwiseAND(F.lit(((1 << width) - 1) << (c * width)))
                .alias("chunk_val"),
            )
            for c in range(chunks)
        ]
    )
    bands = base.select("__id", "__sim", F.explode(chunk_structs).alias("__c")).select(
        "__id", "__sim", "__c.chunk_id", "__c.chunk_val"
    )
    a, b_ = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b_,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("doc_a"),
            F.col("b.__id").alias("doc_b"),
            hamming_distance(F.col("a.__sim"), F.col("b.__sim")).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# DuckDB SQL twins (oracle generation)
# ---------------------------------------------------------------------------


def token_hashes_sql(col: str) -> str:
    inner = rolling_hash_sql("t")
    return f"list_transform({tokens_sql(col)}, t -> {inner})"


def shingle_hashes_sql(col: str, k: int = SHINGLE_K) -> str:
    th = f"th"  # expects a CTE exposing th
    expr = f"{th}[i]"
    for off in range(1, k):
        expr = f"(({expr}) * {HASH_MULT} + {th}[i + {off}]) % {M}"
    return (
        f"CASE WHEN len({th}) >= {k} THEN "
        f"list_transform(range(1, len({th}) - {k} + 2), i -> {expr}) "
        f"ELSE CAST([] AS BIGINT[]) END"
    )


def minhash_signature_sql() -> str:
    """Signature as a BIGINT[16] list expression over a CTE column ``sh``."""
    mins = ", ".join(
        f"COALESCE(list_min(list_transform(sh, s -> (s * {_seed_a(j)} + {_seed_b(j)}) % {M})), {M})"
        for j in range(NUM_HASHES)
    )
    return f"[{mins}]"


def band_hash_sql(band: int) -> str:
    """Band bucket key over a CTE column ``sig`` (1-based list)."""
    idx = [band * ROWS_PER_BAND + r + 1 for r in range(ROWS_PER_BAND)]
    acc = f"sig[{idx[0]}]"
    for i in idx[1:]:
        acc = f"(({acc}) * {HASH_MULT} + sig[{i}]) % {M}"
    return acc


def minhash_pipeline_sql(
    threshold: float = 0.8, source: str = "documents", max_bucket_size: int = 1000
) -> str:
    """The full oracle: identical pipeline in DuckDB SQL.

    Mirrors ``minhash_near_dup_pairs`` exactly — including the
    ``max_bucket_size`` bucket guard, so that if an LSH bucket ever
    exceeds the cap at driver scale both engines drop it identically.
    """
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band_id, {band_hash_sql(b)} AS bh FROM sig"
        for b in range(NUM_BANDS)
    )
    return f"""
    WITH th_t AS (
      SELECT doc_id, {token_hashes_sql('text')} AS th FROM {source}
    ),
    sh_t AS (
      SELECT doc_id, list_distinct({shingle_hashes_sql('text')}) AS sh FROM th_t
    ),
    sig AS (
      SELECT doc_id, sh, {minhash_signature_sql()} AS sig FROM sh_t
    ),
    bands_all AS ({band_rows}),
    bucket_sizes AS (
      SELECT band_id, bh, COUNT(*) AS n FROM bands_all GROUP BY band_id, bh
    ),
    bands AS (
      SELECT ba.* FROM bands_all ba
      JOIN bucket_sizes bs ON ba.band_id = bs.band_id AND ba.bh = bs.bh
      WHERE bs.n <= {max_bucket_size}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sh AS sh_a, b.sh AS sh_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    scored AS (
      SELECT doc_a, doc_b,
             ROUND(CAST(len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS DOUBLE)
                   / (len(sh_a) + len(sh_b) - len(list_filter(sh_a, x -> list_contains(sh_b, x)))),
                   4) AS jaccard
      FROM pairs
    )
    SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {threshold}
    """


def simhash_sql(col: str) -> str:
    """SimHash twin over a CTE column ``th`` (token hash list).

    The outer CAST matters: DuckDB's ``list_sum`` over BIGINT returns
    HUGEINT, while the Spark side is LONG — the driver hashes exact
    typed values, so without the cast the hash check fails even though
    every value is identical.
    """
    return (
        f"CAST(list_sum(list_transform(range(0, {SIMHASH_BITS}), b -> "
        f"CASE WHEN 2 * len(list_filter(th, h -> ((h >> b) & 1) = 1)) > len(th) "
        f"THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# Fuzzy string matching: multi-key blocking + integer edit distance
# ---------------------------------------------------------------------------


def fuzzy_blocked_pairs(
    names: DataFrame, name_col: str = "name", max_dist: int = 5
) -> DataFrame:
    """Record-linkage pair generation: block on BOTH the last and the
    first whitespace token (VERDICT r3 #6 — last-token blocking alone
    misses pairs that differ in their final token, e.g. 'alpha red' vs
    'alpha blue'), union the blocks, dedup candidate pairs, then score
    with exact integer Levenshtein ≤ ``max_dist``.

    Scale posture: still never all-pairs — two bounded equi-join blocks
    instead of one; the pair-level DISTINCT is a narrow shuffle on the
    (name_a, name_b) candidate set, which blocking has already pruned.
    Levenshtein runs once per distinct candidate pair."""
    n = names.select(F.col(name_col).alias("name")).distinct()
    toks = F.split("name", " ")
    blocked = n.select("name", F.element_at(toks, -1).alias("block")).unionByName(
        n.select("name", F.element_at(toks, 1).alias("block"))
    )
    a = blocked.select(F.col("name").alias("name_a"), "block")
    b = blocked.select(F.col("name").alias("name_b"), F.col("block").alias("block_b"))
    cand = (
        a.join(b, (F.col("block") == F.col("block_b")) & (F.col("name_a") < F.col("name_b")))
        .select("name_a", "name_b")
        .distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select("name_a", "name_b", F.col("dist").cast("int").alias("dist"))
    )


# ---------------------------------------------------------------------------
# Duplicate-cluster resolution: connected components over near-dup pairs
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 25
) -> DataFrame:
    """Connected components over an undirected edge list — the cluster-
    resolution step every fuzzy-dedup pipeline needs between PAIRS and
    SURVIVORS: near-dup similarity is not transitive as a relation
    (A~B and B~C with A!~C), so dropping "the higher id of each pair"
    over-drops; the correct semantics is one canonical survivor per
    *transitive closure* (what the reference's pipeline would express
    as a self-joined GroupByKey fixpoint; cf. beam GroupByKey,
    beam/transforms/core.py:1199 — no closed-form Beam operator exists
    either, it is an iterative composition there too).

    Algorithm: iterative min-label propagation with one pointer-jump
    per round (the MapReduce-CC shape of Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond" — same two-phase
    min-neighbor / path-halving idea as large-star/small-star). Each
    round every node adopts the minimum label in its closed
    neighborhood, then compresses one hop (label := label's label), so
    chains collapse in O(log diameter) rounds, not O(diameter).

    Scale posture: per-round state is a TWO-COLUMN (node, label) frame
    — the document payload never enters the loop. One round is ONE
    aggregation over the union of three label sources (own label,
    neighbors' labels via an edge join, the label's label via a
    pointer-jump self-join): the two joins are PARALLEL branches of a
    single job, not sequential stages, and convergence is read off the
    same round's aggregate — ``SUM(comp)`` over DECIMAL(38,0) is exact
    and strictly decreases iff any label changed (each node's label is
    monotonically non-increasing), so no comparison join and no second
    action per round. Round state is an EAGER ``localCheckpoint``, not
    a cache: each round's plan then starts from a LogicalRDD instead of
    re-entering AQE through an InMemoryRelation — measured 5-10x per
    round (cache rounds 1.9/4.5 s, checkpoint rounds 0.7/0.4 s on the
    same sf0.01 graph; the whole CC step 10.5 → 2.5 s, NOTES r11,
    closing VERDICT r10 #4's 6x twin-vs-SQL-fixpoint gap — the SQL
    path's own per-iteration localCheckpoint was exactly this). Old
    rounds' checkpoint blocks release when the driver handle is
    dropped (``cur = nxt``), so lineage AND storage stay O(1) in round
    count. On executor loss a checkpointed round cannot recompute —
    the job fails and the driver loop reruns; acceptable for a
    2-column frame rebuilt from scratch in O(log d) rounds (same
    posture as sql.py's recursive fixpoint). Dedup graphs (dense small
    cliques) converge in 2-4 rounds; pointer jumping keeps pathological
    chains at O(log diameter); ``max_iter`` is the backstop.

    Returns (node, comp) with comp = min node id in the component.
    """
    sym = (
        edges.select(F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d"))
        .union(
            edges.select(
                F.col(dst).cast("long").alias("s"), F.col(src).cast("long").alias("d")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = (
        sym.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_sum = None
    for _ in range(max_iter):
        via_edges = sym.join(cur, sym["d"] == cur["node"]).select(
            F.col("s").alias("node"), "comp"
        )
        jump_map = cur.select(
            F.col("node").alias("m_node"), F.col("comp").alias("m_comp")
        )
        via_jump = cur.join(jump_map, cur["comp"] == jump_map["m_node"]).select(
            "node", F.col("m_comp").alias("comp")
        )
        nxt = (
            cur.select("node", "comp")
            .union(via_edges)
            .union(via_jump)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        cur_sum = nxt.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).collect()[0].s
        cur = nxt
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return cur.select("node", "comp")


def duplicate_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    **pair_kwargs,
) -> DataFrame:
    """MinHash-LSH pairs → transitive closure → per-document cluster
    assignment: (doc_id, component_id, cluster_size, is_canonical).
    The canonical survivor is the minimum doc id of each component —
    deterministic, engine-neutral. Only documents that belong to some
    duplicate cluster appear; unique documents need no row (the
    anti-join composition in ``corpus_clean_pipeline`` shows the
    keep-side handling)."""
    pairs = minhash_near_dup_pairs(df, id_col, text_col, threshold=threshold, **pair_kwargs)
    comp = connected_components(pairs, "doc_a", "doc_b")
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        comp.join(sizes, "comp")
        .select(
            F.col("node").alias("doc_id"),
            F.col("comp").alias("component_id"),
            "cluster_size",
            (F.col("node") == F.col("comp")).alias("is_canonical"),
        )
    )


def duplicate_clusters_sql(
    threshold: float = 0.8, source: str = "documents", max_bucket_size: int = 1000
) -> str:
    """Oracle twin of ``duplicate_clusters``: the minhash pair pipeline
    as a nested CTE, then the transitive closure as a recursive CTE —
    reach(node, comp) saturates (comp reaches node) pairs, and
    MIN(comp) per node is exactly the component minimum the iterative
    Spark loop converges to."""
    pairs_sql = minhash_pipeline_sql(
        threshold=threshold, source=source, max_bucket_size=max_bucket_size
    )
    return f"""
    WITH RECURSIVE dup_pairs AS ({pairs_sql}),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM dup_pairs
      UNION
      SELECT doc_b AS s, doc_a AS d FROM dup_pairs
    ),
    reach(node, comp) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM edges)
      UNION
      SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (
      SELECT node, MIN(comp) AS component_id FROM reach GROUP BY node
    ),
    sized AS (
      SELECT component_id, COUNT(*) AS cluster_size FROM comp GROUP BY component_id
    )
    SELECT c.node AS doc_id, c.component_id, s.cluster_size,
           c.node = c.component_id AS is_canonical
    FROM comp c JOIN sized s USING (component_id)
    """


# ---------------------------------------------------------------------------
# Segment-level (line-level) exact dedup
# ---------------------------------------------------------------------------

SEGMENT_TOKENS = 8


def segment_dup_stats(
    df: DataFrame, id_col: str, text_col: str, seg_tokens: int = SEGMENT_TOKENS
) -> DataFrame:
    """Sub-document exact dedup — the line/paragraph-dedup stage of
    corpus cleaning (CCNet / C4 / RefinedWeb remove boilerplate lines
    repeated across pages before whole-document dedup). The driver's
    synthetic corpus has no newlines, so the segment unit is a fixed
    ``seg_tokens``-token window (stated honestly: the line-dedup analog
    for a newline-free corpus; with real text the split expression is
    the only thing that changes).

    Per document: how many of its non-overlapping segments also occur
    elsewhere in the corpus (or twice in the same document).

    Scale posture: tokenize + segment is per-row (one explode, no
    Python); the global segment frequency is a window count partitioned
    by segment text — ONE hash shuffle on the segment key, no join-back
    needed — then one per-doc aggregate. Boilerplate-heavy corpora skew
    the segment key; that shuffle is AQE-splittable and the segment
    strings could be pre-hashed to longs at 100 TB to shrink shuffle
    bytes (here they stay strings so the oracle is directly readable).

    Returns (doc_id, n_segments, n_dup_segments, dup_fraction).
    """
    from pyspark.sql import Window

    t = tokens(text_col)
    toks = df.select(F.col(id_col).alias("__id"), t.alias("__t")).filter(
        F.size("__t") > 0
    )
    starts = toks.select(
        "__id",
        "__t",
        F.explode(F.sequence(F.lit(1), F.size("__t"), F.lit(seg_tokens))).alias("__s"),
    )
    segs = starts.select(
        "__id", F.array_join(F.slice("__t", F.col("__s"), seg_tokens), " ").alias("__seg")
    )
    counted = segs.withColumn(
        "__n", F.count(F.lit(1)).over(Window.partitionBy("__seg"))
    )
    n_dup = F.sum(F.when(F.col("__n") > 1, 1).otherwise(0)).cast("long")
    return (
        counted.groupBy(F.col("__id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            n_dup.alias("n_dup_segments"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_segments").cast("double") / F.col("n_segments"), 4),
        )
    )


def segment_dup_stats_sql(
    source: str = "documents", seg_tokens: int = SEGMENT_TOKENS
) -> str:
    """Oracle twin of ``segment_dup_stats`` (same tokenizer as
    functions/text.py's tokens_sql; list_slice end is inclusive, hence
    the LEAST(s + k - 1, len))."""
    return f"""
    WITH toks AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM {source}
    ),
    segs AS (
      SELECT doc_id,
             array_to_string(
               list_slice(t, s, LEAST(s + {seg_tokens - 1}, len(t))), ' ') AS seg
      FROM (
        SELECT doc_id, t, unnest(range(1, len(t) + 1, {seg_tokens})) AS s
        FROM toks WHERE len(t) > 0
      )
    ),
    counted AS (
      SELECT doc_id, seg, COUNT(*) OVER (PARTITION BY seg) AS n FROM segs
    )
    SELECT doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segments,
           ROUND(CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*),
                 4) AS dup_fraction
    FROM counted GROUP BY doc_id
    """


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    fast_hashing: bool = True,
    th_col: str | None = None,
) -> DataFrame:
    """The signature-store frame: (__id, __sh distinct-shingle set,
    mh0..mh15). In production this is persisted once per corpus
    snapshot (parquet, partitioned however the corpus is); incremental
    dedup then recomputes signatures ONLY for the new batch and reads
    the store for everything else — the signature pass over a 100 TB
    corpus is the dominant cost, and this is what makes it one-time.

    ``minhash_near_dup_pairs`` builds its signature frame THROUGH this
    function (r11) so the two construct byte-identical plans — that is
    what lets corpus_build_full's decontamination stage re-hit the
    near-dup stage's signature cache instead of re-tokenizing.

    Deliberately NO pre-UDF fan-out here (unlike the gopher/quality
    passes): the r11 interleaved A/B showed the repartition REGRESSES
    this family at bench scale (incremental 2.0 -> 4.3 s; pairs_fast
    1.6 -> 2.2 s) — the signature output (shingle sets + 16 lanes) then
    flows through every downstream join at the inflated partition
    count, and the tokenize here is too cheap per doc to amortize it.
    At real scale input splits exceed cores anyway.

    ``th_col`` (r12): name of an ALREADY-COMPUTED token-hash column to
    consume instead of re-tokenizing ``text_col`` — for pipelines that
    carry ``__th`` across stage boundaries (corpus_build tokenizes the
    corpus once in its quality pass and feeds the hashes through the
    exact-dedup aggregate). Values are identical by the fast-twin
    contract; the Arrow tokenize node simply drops out of the plan."""
    if th_col is not None:
        th_expr = F.col(th_col)
    elif fast_hashing:
        from cloud_dataflow_batch_processing_spark.functions.text_fast import (
            token_hashes_fast,
        )

        th_expr = token_hashes_fast(F.col(text_col))
    else:
        th_expr = token_hashes(text_col)
    th_df = df.select(F.col(id_col).alias("__id"), th_expr.alias("__th"))
    sh_df = th_df.select("__id", shingles_from_token_hashes(F.col("__th")).alias("__shl"))
    return sh_df.select(
        "__id",
        F.array_distinct("__shl").alias("__sh"),
        *minhash_from_shingles(F.col("__shl")),
    )


def _bands_of(sigs: DataFrame) -> DataFrame:
    sig_cols = [f"mh{j}" for j in range(NUM_HASHES)]
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band_id"), band_hash(sig_cols, b).alias("bh"))
            for b in range(NUM_BANDS)
        ]
    )
    return sigs.select("__id", "__sh", F.explode(band_structs).alias("__b")).select(
        "__id", "__sh", "__b.band_id", "__b.bh"
    )


def incremental_near_dups(
    corpus_sigs: DataFrame,
    batch_sigs: DataFrame,
    threshold: float = 0.8,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Incremental MinHash-LSH: near-dup pairs that INVOLVE the new
    batch — (doc_a, doc_b, jaccard), doc_a < doc_b, at least one side
    new. The probe side of the band join is only the batch, so
    old×old candidate pairs are never generated and the old corpus
    contributes exactly one scan of its (stored) signatures. The
    bucket guard counts over corpus ∪ batch, so verdicts are identical
    to what a full re-run would produce (equivalence is unit-pinned).
    """
    from cloud_dataflow_batch_processing_spark.caching import managed_cache

    batch_bands = managed_cache(_bands_of(batch_sigs))
    all_bands = _bands_of(corpus_sigs).unionByName(batch_bands)

    sizes = all_bands.groupBy("band_id", "bh").agg(F.count(F.lit(1)).alias("n"))
    oversized = sizes.filter(F.col("n") > max_bucket_size).select("band_id", "bh")
    probe = batch_bands.join(F.broadcast(oversized), ["band_id", "bh"], "left_anti")
    build = all_bands.join(F.broadcast(oversized), ["band_id", "bh"], "left_anti")

    b = build.select(
        F.col("band_id"), F.col("bh"),
        F.col("__id").alias("__id_o"), F.col("__sh").alias("__sh_o"),
    )
    cand = (
        probe.join(b, ["band_id", "bh"])
        .filter(F.col("__id") != F.col("__id_o"))
        .select(
            F.least("__id", "__id_o").alias("doc_a"),
            F.greatest("__id", "__id_o").alias("doc_b"),
            F.when(F.col("__id") < F.col("__id_o"), F.col("__sh"))
            .otherwise(F.col("__sh_o"))
            .alias("sh_a"),
            F.when(F.col("__id") < F.col("__id_o"), F.col("__sh_o"))
            .otherwise(F.col("__sh"))
            .alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # Two EMPTY shingle sets (zero-length / sub-k-token docs all share
    # the all-sentinel signature, so they band-collide) leave Jaccard
    # undefined: NULL, matching the oracle's division-by-zero NULL, and
    # the threshold filter drops the pair on both engines — never an
    # ANSI DIVIDE_BY_ZERO (adversarial empty-text sweep).
    jac = F.when(union > 0, F.round(inter.cast("double") / union, 4))
    return cand.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def incremental_pipeline_sql(
    split_id: int,
    threshold: float = 0.8,
    source: str = "documents",
    max_bucket_size: int = 1000,
) -> str:
    """Oracle for :func:`incremental_near_dups` with old = doc_id <
    split_id, new = the rest: the same signature/band/guard pipeline
    as :func:`minhash_pipeline_sql`, but the probe side of the pair
    join is restricted to the new batch."""
    return incremental_pipeline_pred_sql(
        f"a.doc_id >= {split_id}", threshold, source, max_bucket_size
    )


def incremental_pipeline_pred_sql(
    new_pred: str,
    threshold: float = 0.8,
    source: str = "documents",
    max_bucket_size: int = 1000,
) -> str:
    """Generalized incremental oracle: ``new_pred`` is a SQL predicate
    over the probe-side alias (``a.doc_id``) selecting the NEW batch
    (e.g. ``'a.doc_id % 2 = 1'`` for the streaming LSH filter's
    even/odd replay split). Guard counts over ALL of ``source`` —
    matching the batch path's corpus ∪ batch bucket guard."""
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, sh, {b} AS band_id, {band_hash_sql(b)} AS bh FROM sig"
        for b in range(NUM_BANDS)
    )
    return f"""
    WITH th_t AS (
      SELECT doc_id, {token_hashes_sql('text')} AS th FROM {source}
    ),
    sh_t AS (
      SELECT doc_id, list_distinct({shingle_hashes_sql('text')}) AS sh FROM th_t
    ),
    sig AS (
      SELECT doc_id, sh, {minhash_signature_sql()} AS sig FROM sh_t
    ),
    bands_all AS ({band_rows}),
    bucket_sizes AS (
      SELECT band_id, bh, COUNT(*) AS n FROM bands_all GROUP BY band_id, bh
    ),
    bands AS (
      SELECT ba.* FROM bands_all ba
      JOIN bucket_sizes bs ON ba.band_id = bs.band_id AND ba.bh = bs.bh
      WHERE bs.n <= {max_bucket_size}
    ),
    pairs AS (
      SELECT DISTINCT
        LEAST(a.doc_id, b.doc_id) AS doc_a,
        GREATEST(a.doc_id, b.doc_id) AS doc_b,
        CASE WHEN a.doc_id < b.doc_id THEN a.sh ELSE b.sh END AS sh_a,
        CASE WHEN a.doc_id < b.doc_id THEN b.sh ELSE a.sh END AS sh_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id <> b.doc_id
      WHERE {new_pred}
    ),
    scored AS (
      SELECT doc_a, doc_b,
             ROUND(CAST(len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS DOUBLE)
                   / (len(sh_a) + len(sh_b) - len(list_filter(sh_a, x -> list_contains(sh_b, x)))),
                   4) AS jaccard
      FROM pairs
    )
    SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {threshold}
    """
