"""Deduplication operators for large-scale training-data pipelines.

- exact: hash-groupBy on normalized text (one shuffle, map-side partial agg)
- MinHash + LSH: shingle → minhash signature → banded bucket join
- SimHash: 64-bit signature + banded hamming candidate generation
- n-gram Jaccard verification of candidate pairs

All signatures are computed in vectorized pandas UDFs (Arrow batches);
candidate generation is plain relational (explode + equi-join on bucket
keys) so Catalyst plans the shuffles. Deterministic hashing throughout
(no Python hash randomization).
"""

from __future__ import annotations

import hashlib
import re
import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

_TOKEN_RE = re.compile(r"\W+", re.UNICODE)

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def normalized_text_key(col="text"):
    """Trimmed, whitespace-collapsed, lowercased md5 — the exact-dup key.

    Accepts a column name or a Column expression."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.md5(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the smallest id per normalized-text group (deterministic
    representative). ONE scan, ONE shuffle. NULL-text rows have no known
    content, so they are all kept — NULL keys must not collapse into one
    'duplicate' group — and they must not all shuffle to a single task
    either (the window partitioner treats NULL as one key). Instead of
    splitting them into a second branch (the round-4 shape: correct, but
    Catalyst scanned the source twice), NULL-key rows get a per-row salt
    in the partition key: each lands alone in its own window partition,
    is trivially rank 1, and survives — identical output, half the scan
    cost (round-5 advice fix)."""
    keyed = docs.withColumn("dup_key", normalized_text_key(text_col))
    null_salt = (
        F.when(F.col("dup_key").isNull(), F.col(id_col)).otherwise(F.lit(0))
    )
    w = Window.partitionBy("dup_key", "_null_salt").orderBy(F.asc(id_col))
    return (
        keyed.withColumn("_null_salt", null_salt)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "dup_key", "_null_salt")
    )


def exact_dup_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    return (
        docs.withColumn("dup_key", normalized_text_key(text_col))
        .filter(F.col("dup_key").isNotNull())
        .groupBy("dup_key")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("representative"))
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (fully relational: shingle explode + inverted-index join)
# ---------------------------------------------------------------------------

def ngram_shingle_col(col="text", k: int = 3):
    """Distinct word k-gram shingles built with JVM higher-order functions
    (split → sequence → slice → array_join) — whole-stage codegen, no
    Python. Documents shorter than k tokens contribute one shingle (the
    whole token sequence), so every document has ≥1 shingle.

    Tokenizer note: this splits on WHITESPACE (punctuation stays attached
    to tokens) so the definition is ANSI-SQL-expressible for the oracle;
    the MinHash path (`_hash_shingles`) tokenizes on \\W+ instead. The two
    Jaccard values agree on clean prose but differ on punctuated text —
    thresholds are not interchangeable across the two entry points."""
    toks = F.split(F.lower(F.trim(F.col(col))), r"\s+")
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.array_distinct(shingles)


# "auto" max_df: drop shingles occurring in more than
# max(AUTO_MAX_DF_FLOOR, AUTO_MAX_DF_FRAC * n_docs) documents. The floor
# keeps small corpora exact (no shingle in a <=1000-doc corpus can exceed
# it); the fraction is the boilerplate bar at web scale (0.1% of a 100B-doc
# corpus is still 100M docs sharing one shingle — unambiguously template
# text, and exactly the join key that would otherwise explode
# quadratically).
AUTO_MAX_DF_FLOOR = 1000
AUTO_MAX_DF_FRAC = 0.001


def ngram_jaccard_pairs(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | str | None = "auto",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted shingle index.

    Unlike MinHash (probabilistic candidates + verify) this computes the
    EXACT Jaccard for every pair sharing ≥1 shingle: explode distinct
    shingles, self-equi-join on shingle (the inverted index), count
    co-occurrences, then jaccard = shared / (|A| + |B| - shared).
    Everything is relational — Catalyst plans the shuffles, partial
    aggregation is map-side, and the single FP division is
    order-deterministic (oracle-checkable in ANSI SQL).

    Scale path: `max_df` drops stop-shingles appearing in more than
    `max_df` documents before the self-join — the standard
    prefix-filtering defence against a quadratic blow-up on boilerplate
    n-grams. Sizes are computed AFTER the filter so jaccard stays a true
    ratio over the retained shingle space (documented approximation).

    Default is the SCALE-SAFE `"auto"` bound
    max(AUTO_MAX_DF_FLOOR, AUTO_MAX_DF_FRAC * n_docs), computed inside the
    plan (a broadcast 1-row count — no driver round trip). Pass an int for
    an explicit bound, or None for the exact all-pairs mode (opt-in: on
    web-scale boilerplate the unbounded shingle self-join is quadratic).

    .. versionchanged:: round 2
       The default changed from ``None`` (exact all-pairs jaccard) to
       ``"auto"``. On corpora with >AUTO_MAX_DF_FLOOR docs sharing a
       shingle, jaccard is now computed over the FILTERED shingle space
       unless callers explicitly pass ``max_df=None`` — behavior change
       flagged per the round-2 advice; the filter only ever drops
       boilerplate shingles, and the auto bound never engages below
       1000-doc document frequency.
    """
    from .spatial_join import ensure_parallelism

    # A single-file documents source arrives as ONE scan partition; the
    # shingle explode + every downstream shuffle's map side would then run
    # single-task. Round-robin the (tiny) raw doc rows first so the
    # expensive explode/hash/exchange-write work fans out.
    sh = ensure_parallelism(docs.select(F.col(id_col).alias("_id"), text_col)).select(
        "_id",
        F.explode(ngram_shingle_col(text_col, k)).alias("shingle"),
    )
    if max_df is not None:
        dfs = sh.groupBy("shingle").agg(F.count("*").alias("df"))
        if max_df == "auto":
            n_docs = docs.select(F.count("*").alias("n_docs"))
            hot = (
                dfs.crossJoin(F.broadcast(n_docs))
                .filter(
                    F.col("df")
                    > F.greatest(
                        F.lit(float(AUTO_MAX_DF_FLOOR)),
                        F.col("n_docs") * F.lit(AUTO_MAX_DF_FRAC),
                    )
                )
                .select("shingle")
            )
        else:
            hot = dfs.filter(F.col("df") > max_df).select("shingle")
        sh = sh.join(F.broadcast(hot), on="shingle", how="left_anti")
    sizes = sh.groupBy("_id").agg(F.count("*").alias("n_sh"))
    left = sh.select(F.col("_id").alias("id_a"), "shingle")
    right = sh.select(F.col("_id").alias("id_b"), "shingle")
    shared = (
        left.join(right, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    ).cast("double")
    return (
        shared.join(sa, on="id_a")
        .join(sb, on="id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_shared", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_ROLL_MULT = np.uint64(0x9E3779B97F4A7C15)  # 64-bit golden-ratio odd constant


def _hash_shingles(text: str, k: int, token_cache: dict | None = None) -> np.ndarray:
    """Stable 64-bit hashes of the k-gram word shingles of `text`.

    One blake2b per UNIQUE token (memoized in `token_cache`, which callers
    share across a whole Arrow batch — natural-language corpora repeat
    tokens heavily, so most lookups are dict hits, not hash calls), then a
    vectorized polynomial roll over the k window (uint64 wraparound) —
    k x fewer bytes hashed than hashing each shingle string, and the
    combine is pure NumPy. Hash values are independent of the cache, so
    signatures are bit-identical with or without it (pinned by
    tests/test_dedup_text.py golden).
    """
    tokens = [t for t in _TOKEN_RE.split(text.lower()) if t]
    if not tokens:
        return np.zeros(1, dtype=np.uint64)
    if token_cache is None:
        token_cache = {}
    get = token_cache.get
    vals = []
    for t in tokens:
        v = get(t)
        if v is None:
            v = struct.unpack("<Q", hashlib.blake2b(t.encode(), digest_size=8).digest())[0]
            token_cache[t] = v
        vals.append(v)
    th = np.array(vals, dtype=np.uint64)
    if len(tokens) < k:
        # scalar uint64 ops DO emit overflow RuntimeWarnings (array ops
        # wrap silently) — guard this branch, not just the array one
        with np.errstate(over="ignore"):
            acc = np.uint64(0)
            for v in th:
                acc = acc * _ROLL_MULT + v
        return np.array([acc], dtype=np.uint64)
    with np.errstate(over="ignore"):
        acc = th[: len(th) - k + 1].copy()
        for j in range(1, k):
            acc = acc * _ROLL_MULT + th[j : len(th) - k + 1 + j]
    return acc


def _perm_params(num_perm: int, seed: int = 42):
    """Multiply-xorshift hash family parameters (odd multipliers)."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, 2**63 - 1, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = rng.randint(0, 2**63 - 1, size=num_perm, dtype=np.uint64)
    return a, b


def _minhash_sig_u64(
    text: str, num_perm: int, k: int, a: np.ndarray, b: np.ndarray,
    token_cache: dict | None = None,
) -> np.ndarray:
    h = _hash_shingles(text, k, token_cache)
    # permuted[i,j] = mix(a[j]*h[i] + b[j]) in wraparound uint64 arithmetic
    with np.errstate(over="ignore"):
        hv = h[:, None] * a[None, :] + b[None, :]
        hv ^= hv >> np.uint64(29)  # xorshift finalizer decorrelates high bits
    return hv.min(axis=0)


def minhash_signature(
    text: str, num_perm: int, k: int, a: np.ndarray, b: np.ndarray,
    token_cache: dict | None = None,
) -> list:
    return [int(x) for x in _minhash_sig_u64(text, num_perm, k, a, b, token_cache)]


def minhash_candidates(
    docs: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    collapse_exact: bool = True,
    max_band_df: int | None = None,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) whose signatures collide in ≥1 band.

    Scale valve (`collapse_exact`, default True): exact duplicates —
    boilerplate-identical pages, parked domains, error pages — have
    IDENTICAL minhash signatures, so they collide in *every* band; at
    crawl scale one band bucket then holds millions of ids and the
    band-hash self-join goes quadratic inside that bucket, multiplied by
    `bands`. The valve groups docs by the exact-dup class key
    (normalized_text_key over COALESCE(text,'')) and bands ONE
    representative per class, then re-expands: within-class pairs are
    emitted directly (identical signatures collide by construction) and
    cross-class pairs expand through class membership. Within the two
    limits below this is PAIR-SET-IDENTICAL to the unvalved path — equal
    class key ⇒ equal \\W+ token sequence (the key only erases case and
    whitespace, which the tokenizer erases too) ⇒ equal signature ⇒
    equal band hashes — while the probabilistic self-join runs over
    distinct classes only and the B-way band multiplication + distinct()
    over duplicated pairs disappears (pinned by
    tests/test_dedup_text.py::TestMinhashHotBandValve). The residual
    hot-band class — DISTINCT texts whose signatures still collide in
    one band — is bounded by the opt-in `max_band_df` (drop band buckets
    whose class frequency exceeds it, an explicit recall trade mirroring
    ngram_jaccard_pairs' max_df; default None = exact LSH semantics).

    Two limits of that identity:
    - `max_band_df` counts exact-dup CLASSES per bucket under
      `collapse_exact` but DOCUMENTS without it, so one threshold drops
      different buckets on the two paths: the pair sets are identical
      only at `max_band_df=None`.
    - equal key ⇒ equal signature assumes ASCII text, or at least text
      on which Spark's lower() and Python's str.lower() agree and whose
      key-erased whitespace the \\W+ tokenizer also splits on. The key
      is built in the JVM and the signature in Python, and outside ASCII
      the two runtimes' case mappings are not guaranteed to agree, so
      two texts could share a key yet tokenize differently. d01 relies
      on its ASCII corpus for the same reason."""
    if bands < 1 or num_perm % bands != 0:
        # bands > num_perm would give rows=0: every band chunk becomes
        # the empty byte string, every document collides in every band,
        # and the equi-join degenerates to an N^2 cross join; a
        # non-divisible num_perm silently drops the tail permutations
        # and quietly shifts the recall curve
        raise ValueError(
            f"bands must divide num_perm: got num_perm={num_perm}, "
            f"bands={bands}"
        )
    rows = num_perm // bands
    a_params, b_params = _perm_params(num_perm)

    @F.pandas_udf(ArrayType(LongType()))
    def band_hashes(texts: pd.Series) -> pd.Series:
        # one token->hash memo per Arrow batch: blake2b runs once per
        # UNIQUE token in the batch instead of once per occurrence
        token_cache: dict = {}
        out = []
        for t in texts:
            sig = _minhash_sig_u64(
                t or "", num_perm, shingle_k, a_params, b_params, token_cache
            )
            # '<u8'.tobytes() emits the identical little-endian 8-byte
            # layout struct.pack('<q', signed(v)) produced (two's
            # complement) — band digests are bit-identical
            sig_le = sig.astype("<u8", copy=False)
            bh = []
            for bi in range(bands):
                chunk = sig_le[bi * rows : (bi + 1) * rows].tobytes()
                digest = hashlib.blake2b(chunk + bytes([bi]), digest_size=8).digest()
                bh.append(struct.unpack("<q", digest)[0])
            out.append(bh)
        return pd.Series(out)

    from .spatial_join import ensure_parallelism

    def _drop_hot_bands(banded: DataFrame) -> DataFrame:
        """Opt-in band-frequency valve (ngram max_df pattern): anti-join
        away band buckets held by more than max_band_df rows — exact-dup
        classes under collapse_exact, documents without it, so the two
        paths' pair sets agree only when the valve is off. A documented
        recall trade for corpora where distinct texts still funnel into
        one bucket."""
        if max_band_df is None:
            return banded
        hot = (
            banded.groupBy("band_hash")
            .agg(F.count("*").alias("band_df"))
            .filter(F.col("band_df") > max_band_df)
            .select("band_hash")
        )
        return banded.join(F.broadcast(hot), on="band_hash", how="left_anti")

    if not collapse_exact:
        banded = _drop_hot_bands(
            ensure_parallelism(docs.select(id_col, text_col))
            .withColumn("band_hash", F.explode(band_hashes(F.col(text_col))))
            .select(id_col, "band_hash")
        )
        left = banded.select(F.col(id_col).alias("id_a"), "band_hash")
        right = banded.select(F.col(id_col).alias("id_b"), "band_hash")
        return (
            left.join(right, on="band_hash")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )

    # exact-dup classes: equal key <=> equal text up to case/whitespace,
    # both erased by the \W+ tokenizer => equal signature => equal bands
    keyed = ensure_parallelism(
        docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    ).withColumn(
        "_cls", normalized_text_key(F.coalesce(F.col("_text"), F.lit("")))
    )
    classes = keyed.groupBy("_cls").agg(
        F.min_by("_text", "_id").alias("_rep_text")
    )
    banded = _drop_hot_bands(
        classes.withColumn(
            "band_hash", F.explode(band_hashes(F.col("_rep_text")))
        ).select("_cls", "band_hash")
    )
    cls_pairs = (
        banded.select(F.col("_cls").alias("_cls_a"), "band_hash")
        .join(banded.select(F.col("_cls").alias("_cls_b"), "band_hash"), on="band_hash")
        .filter(F.col("_cls_a") < F.col("_cls_b"))
        .select("_cls_a", "_cls_b")
        .distinct()
    )
    members = keyed.select("_cls", "_id")
    # cross-class expansion: every member pair of a colliding class pair
    # is a candidate (member signature == representative signature);
    # rows are distinct by construction (one per (cls_a, cls_b, ma, mb))
    cross = (
        cls_pairs.join(
            members.select(F.col("_cls").alias("_cls_a"), F.col("_id").alias("_ma")),
            on="_cls_a",
        )
        .join(
            members.select(F.col("_cls").alias("_cls_b"), F.col("_id").alias("_mb")),
            on="_cls_b",
        )
        .select(
            F.least("_ma", "_mb").alias("id_a"), F.greatest("_ma", "_mb").alias("id_b")
        )
    )
    # within-class pairs: identical signatures collide in every band
    within = (
        members.select("_cls", F.col("_id").alias("id_a"))
        .join(members.select("_cls", F.col("_id").alias("id_b")), on="_cls")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    # disjoint by construction (cross spans two classes, within one)
    return cross.unionByName(within)


def jaccard_verify(
    candidates: DataFrame,
    docs: DataFrame,
    threshold: float = 0.8,
    shingle_k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs; keeps pairs ≥ threshold."""
    texted = (
        candidates.join(
            docs.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a")), on="id_a"
        ).join(
            docs.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b")), on="id_b"
        )
    )

    from .spatial_join import ensure_parallelism

    texted = ensure_parallelism(texted)

    def jac_batches(batches):
        token_cache: dict = {}
        for pdf in batches:
            if len(token_cache) > 1_000_000:  # bound task-lifetime memory
                token_cache.clear()
            sims = []
            for ta, tb in zip(pdf["text_a"], pdf["text_b"]):
                sa = set(_hash_shingles(ta or "", shingle_k, token_cache).tolist())
                sb = set(_hash_shingles(tb or "", shingle_k, token_cache).tolist())
                union = len(sa | sb)
                sims.append(len(sa & sb) / union if union else 1.0)
            out = pdf[["id_a", "id_b"]].copy()
            out["jaccard"] = sims
            yield out

    verified = texted.mapInPandas(jac_batches, schema="id_a long, id_b long, jaccard double")
    return verified.filter(F.col("jaccard") >= threshold)


def minhash_dedup(
    docs: DataFrame, threshold: float = 0.8, num_perm: int = 64, bands: int = 16
) -> DataFrame:
    """Near-duplicate pairs over the documents table (candidates + verify)."""
    cands = minhash_candidates(docs, num_perm=num_perm, bands=bands)
    return jaccard_verify(cands, docs, threshold=threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def _simhash64(text: str) -> int:
    tokens = [t for t in _TOKEN_RE.split((text or "").lower()) if t]
    if not tokens:
        return 0
    acc = np.zeros(64, dtype=np.int64)
    for t in tokens:
        h = struct.unpack("<Q", hashlib.blake2b(t.encode(), digest_size=8).digest())[0]
        bits = (h >> np.arange(64, dtype=np.uint64)) & 1
        acc += np.where(bits.astype(bool), 1, -1)
    sig = 0
    for i in range(64):
        if acc[i] > 0:
            sig |= 1 << i
    return sig - (1 << 63) if sig >= (1 << 63) else sig


def simhash_candidates(
    docs: DataFrame, n_blocks: int = 4, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Candidate near-dup pairs whose simhash agrees on ≥1 of n_blocks
    bit-blocks. Pigeonhole guarantee: any pair within hamming distance
    n_blocks - 1 shares at least one identical block, so recall is total
    for max_hamming <= n_blocks - 1 (callers must size n_blocks
    accordingly; `simhash_dedup` does)."""

    @F.pandas_udf(LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        return pd.Series([_simhash64(t) for t in texts])

    from .spatial_join import ensure_parallelism

    sigged = ensure_parallelism(docs.select(id_col, text_col)).withColumn(
        "simhash", simhash_udf(F.col(text_col))
    )
    if not 1 <= n_blocks <= 64:
        raise ValueError(f"n_blocks must be in [1, 64], got {n_blocks}")
    width = 64 // n_blocks
    block_cols = []
    for bi in range(n_blocks):
        lo = bi * width
        # last block absorbs the remaining high bits
        n_bits = 64 - lo if bi == n_blocks - 1 else width
        mask = (1 << n_bits) - 1
        if mask >= 1 << 63:
            # Spark longs are signed: the 64-bit all-ones mask must ride
            # as two's-complement -1, not 2^64-1 (which F.lit cannot
            # represent as a long — the n_blocks=1 plan failed analysis)
            mask -= 1 << 64
        block = F.shiftrightunsigned(F.col("simhash"), lo).bitwiseAND(F.lit(mask))
        block_cols.append(F.struct(F.lit(bi).alias("block_no"), block.alias("block_val")))
    blocked = sigged.withColumn("blk", F.explode(F.array(*block_cols))).select(
        F.col(id_col), "simhash", F.col("blk.block_no").alias("block_no"), F.col("blk.block_val").alias("block_val")
    )
    left = blocked.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"), "block_no", "block_val"
    )
    right = blocked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"), "block_no", "block_val"
    )
    pairs = (
        left.join(right, on=["block_no", "block_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return pairs.withColumn("hamming", hamming)


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster_rep).

    The step AFTER candidate detection in a dedup pipeline: transitive
    near-duplicates collapse into one cluster whose canonical
    representative is the minimum id (keep that row, drop the rest).

    Algorithm: iterative min-label propagation WITH label shortcutting
    (pointer doubling): each round a node takes the minimum label among
    itself, its neighbors' labels, and its LABEL'S label — the shortcut
    step is valid because labels are always node ids inside the same
    component, and it turns O(diameter) convergence into O(log n)
    (a 10^6-doc near-dup chain converges in ~20 rounds). Per-iteration
    convergence detection, localCheckpoint to cut lineage; each round is
    two equi-joins + a map-side min aggregation, no driver-side data
    beyond the changed-count action.
    """
    # materialize the edge list once — `pairs` is typically the output of
    # an expensive near-dup pipeline, and every propagation round joins
    # against edges; without the checkpoint the whole upstream pipeline
    # would re-execute per iteration
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    labels = labels.localCheckpoint()
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(neigh, labels.id == neigh.src, "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
        )
        # shortcut: label <- min(label, label-of-label) (pointer doubling)
        lut = stepped.select(
            F.col("id").alias("lid"), F.col("label").alias("llabel")
        )
        new_labels = (
            stepped.join(lut, stepped.label == lut.lid, "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("llabel", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), on="id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # labels were still moving when the budget ran out: the returned
        # assignments are NOT connected components — fail loudly instead
        # of handing callers silently-wrong clusters
        raise RuntimeError(
            f"dedup_clusters did not converge within max_iters={max_iters} "
            f"({changed} labels still changing); raise max_iters — pointer "
            f"doubling needs ~log2(n) rounds"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_rep"))


def simhash_dedup(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs within `max_hamming` simhash bits, with TOTAL recall:
    n_blocks = max_hamming + 1 makes the pigeonhole guarantee cover every
    qualifying pair. max_hamming > 31 would need more than 32 blocks
    (sub-2-bit blocks don't exist), silently degrading TOTAL recall to
    partial — rejected instead of quietly returning partial results."""
    if not 0 <= max_hamming <= 31:
        raise ValueError(
            "simhash_dedup guarantees total recall only for max_hamming "
            f"in [0, 31]; got {max_hamming} (use simhash_candidates "
            "directly for best-effort wider radii)"
        )
    n_blocks = max_hamming + 1
    return (
        simhash_candidates(docs, n_blocks=n_blocks)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Exact substring duplication (windowed token hashing)
# ---------------------------------------------------------------------------

def substring_dup_stats(
    docs: DataFrame,
    window: int = 8,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document exact substring-duplication statistics: how much of
    each document is covered by token windows of length `window` that
    occur MORE THAN ONCE anywhere in the corpus (including twice within
    one document). This is the distributed window-hash form of exact
    substring dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): the paper's suffix array finds duplicated
    spans >= N tokens; hashing every N-token window finds exactly the
    same spans, and shards embarrassingly.

    Tokenization is the divergence-proof lower+whitespace split shared
    with d03/t15. Output, one row per input document:
    (doc_id, n_tokens, n_windows, n_dup_windows, covered_tokens,
    dup_fraction, flagged) where covered_tokens counts distinct token
    positions inside duplicated windows, dup_fraction =
    covered_tokens / n_tokens, and flagged = dup_fraction >= threshold.
    Documents shorter than `window` tokens have zero windows and are
    never flagged.

    100 TB shape: window keys are md5 strings, never materialized
    per-document lists; ONE hash-agg over window keys (map-side partial
    combine collapses each partition's repeats first), a shuffled semi
    join back (AQE skew-join splits hot boilerplate windows), then a
    per-document agg. No collect, no all-pairs anything.
    """
    tk = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    # two selects so lower+trim+split+filter runs ONCE per row — tk as a
    # second independent expression tree would re-tokenize every
    # document for the size() (the sibling operators use this shape)
    base = docs.select(F.col(id_col), tk.alias("_tk")).select(
        id_col, "_tk", F.size("_tk").alias("n_tokens")
    )
    starts = F.when(
        F.col("n_tokens") >= window,
        F.sequence(F.lit(1), F.col("n_tokens") - window + 1),
    ).otherwise(F.array().cast("array<int>"))
    wins = base.select(
        id_col, F.explode(starts).alias("st"), F.col("_tk")
    ).select(
        id_col,
        "st",
        F.md5(F.array_join(F.slice("_tk", F.col("st"), window), " ")).alias(
            "wkey"
        ),
    )
    dup_keys = (
        wins.groupBy("wkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("wkey")
    )
    dup_wins = wins.join(dup_keys, "wkey", "leftsemi")
    cov = (
        dup_wins.select(
            id_col,
            "st",
            F.explode(
                F.sequence(F.col("st"), F.col("st") + window - 1)
            ).alias("p"),
        )
        .groupBy(id_col)
        .agg(
            F.countDistinct("st").cast("int").alias("n_dup_windows"),
            F.countDistinct("p").cast("int").alias("covered_tokens"),
        )
    )
    return (
        base.select(id_col, "n_tokens")
        .join(cov, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.greatest(F.col("n_tokens") - window + 1, F.lit(0)).alias(
                "n_windows"
            ),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_fraction"),
        )
        .withColumn("flagged", F.col("dup_fraction") >= F.lit(float(threshold)))
    )


def containment_pairs(
    docs: DataFrame,
    window: int = 8,
    threshold: float = 0.8,
    max_df: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric containment (quote/repost) detection: pairs where the
    smaller document's token-window set is mostly CONTAINED in the
    other's — Broder's containment coefficient |Wa ∩ Wb| / min(|Wa|,
    |Wb|) over distinct `window`-token windows. This catches what
    Jaccard (d03) structurally cannot: a short document quoted whole
    inside a much longer one has tiny Jaccard (the union is dominated by
    the long doc) but containment ~1.

    Output: (doc_id_a, doc_id_b, shared_windows, n_windows_a,
    n_windows_b, containment) with doc_id_a < doc_id_b, integer counts,
    and containment a single double division (bit-equal across
    engines); pairs with containment >= threshold only.

    100 TB shape: ONE evaluation of the window pipeline (distinct
    per-doc window keys), the df bound [2, max_df] caps group rows so
    the in-row pair expansion is bounded (the d10 shape — no
    self-join), shared counts come from a map-side-partial hash agg
    over pair keys, and per-doc window counts join back onto the small
    pair relation.

    The df bound defines ONE consistent window space: windows with
    df > max_df (corpus boilerplate) are excluded from the shared count
    AND from the per-document denominators — like d03, which sizes the
    Jaccard over the retained space. Mixing spaces (bounded numerator
    over unbounded denominators) would score two byte-identical
    boilerplate-heavy documents below 1.0 and below the threshold.
    """
    tk = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    base = docs.select(F.col(id_col), tk.alias("_tk")).select(
        id_col, "_tk", F.size("_tk").alias("n_tokens")
    )
    starts = F.when(
        F.col("n_tokens") >= window,
        F.sequence(F.lit(1), F.col("n_tokens") - window + 1),
    ).otherwise(F.array().cast("array<int>"))
    wins = (
        base.select(id_col, F.explode(starts).alias("st"), "_tk")
        .select(
            id_col,
            F.md5(
                F.array_join(F.slice("_tk", F.col("st"), window), " ")
            ).alias("wkey"),
        )
        .distinct()
    )
    df_per_key = wins.groupBy("wkey").agg(
        F.count(F.lit(1)).cast("long").alias("_df")
    )
    bounded = wins.join(
        df_per_key.filter(F.col("_df") <= max_df), "wkey"
    )
    counts = bounded.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_win")
    )
    # collect_list is bounded by max_df BY CONSTRUCTION (the df filter
    # ran before the grouping), so no boilerplate key can build a huge
    # in-row id list
    groups = (
        bounded.filter(F.col("_df") >= 2)
        .groupBy("wkey")
        .agg(F.collect_list(id_col).alias("_ids"))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("_ids"),
                lambda a: F.transform(
                    F.col("_ids"), lambda b: F.struct(a.alias("a"), b.alias("b"))
                ),
            )
        )
    )
    shared = (
        groups.select(pair.alias("_p"))
        .filter(F.col("_p.a") < F.col("_p.b"))
        .select(
            F.col("_p.a").alias("doc_id_a"), F.col("_p.b").alias("doc_id_b")
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_windows"))
    )
    return (
        shared.join(
            counts.select(
                F.col(id_col).alias("doc_id_a"), F.col("n_win").alias("n_windows_a")
            ),
            "doc_id_a",
        )
        .join(
            counts.select(
                F.col(id_col).alias("doc_id_b"), F.col("n_win").alias("n_windows_b")
            ),
            "doc_id_b",
        )
        .withColumn(
            "containment",
            F.col("shared_windows").cast("double")
            / F.least("n_windows_a", "n_windows_b").cast("double"),
        )
        .filter(F.col("containment") >= F.lit(float(threshold)))
        .select(
            "doc_id_a",
            "doc_id_b",
            "shared_windows",
            "n_windows_a",
            "n_windows_b",
            "containment",
        )
    )


def edit_verified_pairs(
    docs: DataFrame,
    window: int = 8,
    max_dist: int = 6,
    max_df: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Edit-distance-verified near-duplicate pairs: document pairs that
    (a) share at least one exact `window`-token window (the d09 blocking
    relation) and (b) whose whitespace-normalized texts are within
    Levenshtein distance `max_dist`. This is the exact-verification
    complement to MinHash (d01): blocking is recall-bounded (a pair with
    every shared window rarer than df 2 or commoner than `max_df` is
    missed — same documented trade as ngram_jaccard's max_df), but every
    EMITTED pair carries its true edit distance, never an estimate.

    Output: (doc_id_a, doc_id_b, dist) with doc_id_a < doc_id_b, one row
    per verified pair, dist an exact integer (hash-stable across
    engines; Spark and DuckDB both implement standard Levenshtein).

    100 TB shape: ONE evaluation of the window pipeline — groupBy wkey
    collects the ids sharing each window and the df bound (list size in
    [2, max_df], counting windows like d09, so boilerplate blowup dies
    the way d03's max_df kills it) makes every group row bounded
    (<= max_df ids), which legalizes the in-row JVM pair expansion
    (nested transform, <= max_df^2 structs) — no self-join, so the
    expensive tokenize/explode/agg subtree is NOT computed twice.
    Candidates are reduced to DISTINCT id pairs BEFORE any text is
    re-fetched, so the O(len^2) verify runs once per candidate pair on
    exactly two rows' worth of text. The |len_a - len_b| <= max_dist
    pre-filter is a provable Levenshtein lower bound (insertions alone
    must cover the length gap), so it only prunes pairs the verify
    would reject — semantics-free, pushdown-only. The JVM-side
    thresholded levenshtein(l, r, max_dist) is O(max_dist * min_len)
    per pair instead of O(len_a * len_b), and returns the exact
    distance whenever it is <= max_dist (else -1, filtered).
    """
    tk = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda x: x != ""
    )
    base = docs.select(F.col(id_col), tk.alias("_tk")).select(
        id_col,
        "_tk",
        F.array_join("_tk", " ").alias("ntext"),
        F.size("_tk").alias("n_tokens"),
    )
    starts = F.when(
        F.col("n_tokens") >= window,
        F.sequence(F.lit(1), F.col("n_tokens") - window + 1),
    ).otherwise(F.array().cast("array<int>"))
    wins = base.select(id_col, F.explode(starts).alias("st"), "_tk").select(
        id_col,
        F.md5(F.array_join(F.slice("_tk", F.col("st"), window), " ")).alias(
            "wkey"
        ),
    )
    groups = (
        wins.groupBy("wkey")
        .agg(F.collect_list(id_col).alias("_ids"))
        .filter((F.size("_ids") > 1) & (F.size("_ids") <= max_df))
    )
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("_ids"),
                lambda a: F.transform(
                    F.col("_ids"), lambda b: F.struct(a.alias("a"), b.alias("b"))
                ),
            )
        )
    )
    cand = (
        groups.select(pair.alias("_p"))
        .filter(F.col("_p.a") < F.col("_p.b"))
        .select(
            F.col("_p.a").alias("doc_id_a"), F.col("_p.b").alias("doc_id_b")
        )
        .distinct()
    )
    norms = base.select(id_col, "ntext")
    fetched = (
        cand.join(
            norms.select(
                F.col(id_col).alias("doc_id_a"), F.col("ntext").alias("_na")
            ),
            "doc_id_a",
        )
        .join(
            norms.select(
                F.col(id_col).alias("doc_id_b"), F.col("ntext").alias("_nb")
            ),
            "doc_id_b",
        )
        .filter(
            F.abs(F.length("_na") - F.length("_nb")) <= F.lit(max_dist)
        )
    )
    return (
        fetched.withColumn(
            "dist", F.levenshtein("_na", "_nb", max_dist).cast("int")
        )
        .filter(F.col("dist") >= 0)
        .select("doc_id_a", "doc_id_b", "dist")
    )
