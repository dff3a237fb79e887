"""Deduplication operators for the large-scale training-data pipeline.

Not in the reference (it never dedups documents) — required by the engine
brief as first-class components. Four families:

- exact:      content hash -> per-hash window (one shuffle on the hash)
- MinHash:    shingle -> minhash signature -> banded LSH -> bucket equi-join
              (NEVER all-pairs: candidate generation shuffles on
              (band, band_hash), verification is exact Jaccard on the pairs)
- SimHash:    64 sign-bits of token-hash sums, as one aggregate over a
              bit-count array; near-dups = small hamming distance
- n-gram Jaccard: exact pairwise Jaccard within a blocking key (the oracle
              path; quadratic within block, use blocks that fit)

Shingling and MinHash signatures have ONE implementation each, both
Arrow (``mapInArrow``): ``grams_frame`` produces every n-gram list and
``minhash_signatures_frame`` every signature. Spark does not run
lambda-bearing HOFs (``transform``/``aggregate``) inside whole-stage
codegen — every element evaluates interpreted — and profiling at 50k docs
showed the native shingle+signature pipeline at ~24 s per plan branch vs
~1 s in numpy (one base hash per shingle, the n_hashes family derived as
an affine transform, per-doc minima via ``np.minimum.reduceat``). Same
trade, measured and documented, as the LSH bucketing UDF in similarity.py.
``word_shingles_expr`` stays as the native shingle definition the tests
compare against; the md5-affine signature family is what the DuckDB
oracles replay.

At 100 TB: the only shuffles are hash-partitioned group-bys / equi-joins on
uniformly-distributed hash keys (no skew by construction); signatures are
fixed-width (n_hashes ints) regardless of document size; banded LSH bounds
candidate pairs to colliding buckets. A Python kernel feeding several
plan branches runs once, not once per branch. The MinHash pairs get that
from exchange reuse: the band self-join's two sides, and both verify
joins, read one exchange each, so that plan persists nothing and runs no
job until it is executed. Where the branches do not share one exchange
(``ngram_jaccard_pairs``' sizes and token join; ``simhash_near_dup_pairs``,
measured slower without its persist), the shared frame is persisted
MEMORY_AND_DISK and materialized eagerly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from asctb_ct_label_mapper_spark.operators.dq import fetch_bounded
from asctb_ct_label_mapper_spark.plans.partitioning import ensure_min_partitions


# --- exact dedup -------------------------------------------------------------


def exact_dedup_flags(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Annotate every row with its content hash, duplicate-group size, and
    canonical flag (min id per hash wins). Keeps all rows so callers choose
    keep-first / drop / audit semantics downstream."""
    w = Window.partitionBy("content_hash")
    wo = w.orderBy(F.asc(id_col))
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .withColumn("dup_count", F.count(F.lit(1)).over(w))
        .withColumn("is_canonical", F.row_number().over(wo) == 1)
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per distinct text: groupBy-hash, one shuffle."""
    flags = exact_dedup_flags(df, text_col, id_col)
    return flags.filter("is_canonical").drop("content_hash", "dup_count", "is_canonical")


# --- shingling ---------------------------------------------------------------


def word_shingles_expr(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a whitespace-tokenized text, as one
    native expression: tokens -> sliding windows of n -> join -> distinct.
    Texts shorter than n tokens yield an empty array (Spark's ``sequence``
    would otherwise count DOWN from 1 to 0, so the guard is required)."""
    toks = F.split(text, " ")
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(F.size(toks) >= n, F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    )).otherwise(F.array().cast("array<string>"))


def _shingle_list(text: str | None, n: int) -> list[str]:
    """Python mirror of ``word_shingles_expr`` — identical tokenization
    (single-space split, empties kept) and first-occurrence dedup order."""
    if text is None:
        return []
    toks = text.split(" ")
    if len(toks) < n:
        return []
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))


def _gram_list(text: str | None, n: int) -> list[str]:
    """Every word n-gram of a single-space-split text, keeping
    MULTIPLICITY and order (``_shingle_list`` dedups) — the grams the SQL
    mirrors build with ``t[i:i+n-1]`` slices."""
    if text is None:
        return []
    toks = text.split(" ")
    if len(toks) < n:
        return []
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def grams_frame(
    df: DataFrame,
    text_col: str,
    n: int,
    out_col: str,
    dedup: bool = True,
    drop_text: bool = True,
) -> DataFrame:
    """Frame-level n-gram producer via ``mapInArrow`` (guide §4.2) — the
    one n-gram kernel of the package. Per doc, ``_shingle_list``
    (``dedup=True``: distinct shingles, the set ``word_shingles_expr``
    defines) or ``_gram_list`` (``dedup=False``: every n-gram with
    multiplicity and order, for language-model counts). The output list
    column is built zero-copy with ``pa.ListArray.from_arrays`` over one
    flat string buffer per batch instead of a pandas object-Series of
    Python lists (the same boundary move as ``minhash_signatures_frame``;
    measured 3.1 s → 1.6 s for the 50k-doc tier's shingle+explode stage
    against the pandas-UDF form; the native transform+slice HOF took
    157 s vs 15 s for 26.5M bigrams at 500k docs). Every input column
    except (optionally) ``text_col`` passes through untouched;
    ``out_col`` is appended. Null texts yield empty gram lists."""
    import pyarrow as pa

    make = _shingle_list if dedup else _gram_list
    keep = [c for c in df.columns if c != text_col]
    src = df.select(*keep, text_col)
    ti = len(keep)
    n_keep = ti + (0 if drop_text else 1)
    names = src.columns[:n_keep] + [out_col]
    out_schema = T.StructType(
        [src.schema[c] for c in names[:-1]]
        + [T.StructField(out_col, T.ArrayType(T.StringType()))]
    )

    def _fn(batches):
        for batch in batches:
            texts = batch.column(ti).to_pylist()
            offsets = [0]
            flat: list[str] = []
            for t in texts:
                flat.extend(make(t, n))
                offsets.append(len(flat))
            arr = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(flat, type=pa.string()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(n_keep)] + [arr], names
            )

    return src.mapInArrow(_fn, out_schema)


# Fixed affine family over uint64 (odd multipliers; wraparound is the mod):
# h_j(x) = a_j * x + b_j. Seeded PCG64 so signatures are deterministic
# across runs, executors, and sessions.
_MINHASH_MAX_FAMILY = 128
_minhash_rng = np.random.default_rng(0xA5C7B)
_MINHASH_A = (_minhash_rng.integers(0, 2**63, _MINHASH_MAX_FAMILY, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
_MINHASH_B = _minhash_rng.integers(0, 2**63, _MINHASH_MAX_FAMILY, dtype=np.uint64)
_EMPTY_SENTINEL = np.iinfo(np.int64).max

# md5-affine family: base(x) = int(md5(x)[:8 hex], 16) mod P, then
# h_j(x) = (a_j * base + b_j) mod P with P = 2^31 - 1. ONE md5 per unique
# shingle (vs n_hashes md5s in the lexicographic flavor), and every step is
# exact BIGINT arithmetic in DuckDB too (a_j * base < P^2 < 2^63 — no
# overflow on either engine), so the production signature family itself is
# SQL-replayable. Seeded PCG64 -> deterministic across processes.
_MINHASH_P = (1 << 31) - 1
_affine_rng = np.random.default_rng(0x5EED6)
_MINHASH_AFF_A = _affine_rng.integers(1, _MINHASH_P, _MINHASH_MAX_FAMILY, dtype=np.int64)
_MINHASH_AFF_B = _affine_rng.integers(0, _MINHASH_P, _MINHASH_MAX_FAMILY, dtype=np.int64)


def minhash_affine_params(n_hashes: int) -> tuple[list[int], list[int], int]:
    """(a, b, P) literals of the md5-affine family — shared with the
    generated DuckDB oracle SQL so both engines hash identically."""
    assert n_hashes <= _MINHASH_MAX_FAMILY
    return (
        _MINHASH_AFF_A[:n_hashes].tolist(),
        _MINHASH_AFF_B[:n_hashes].tolist(),
        _MINHASH_P,
    )


def _minhash_sig_matrix(
    texts: list, n_hashes: int, shingle_n: int, family: str
) -> np.ndarray:
    """Numpy body of both signature families: list of texts ->
    (len(texts), n_hashes) int64 matrix. md5affine = one md5 per UNIQUE
    shingle (pd.factorize dedups — near-dup corpora repeat shingles
    heavily; int.from_bytes(digest[:4]) == int(hexdigest[:8], 16), the
    oracle's base) then the exact mod-P affine family; siphash =
    ``pd.util.hash_array`` base (SipHash with a fixed key) with the
    uint64-wraparound affine family. Docs with no shingles get sentinels
    (P resp. int64-max) that collide only with other empties. Per-doc
    shingle dedup is skipped on purpose — minima are multiset-invariant,
    and factorize collapses repeats for the md5 cost.

    The affine expansion runs in doc-aligned CHUNKS so each (n_hashes,
    chunk) block stays cache-resident instead of materializing n_hashes
    full-corpus rows plus a same-sized +b temporary (uint64 mul is scalar
    on x86 — bandwidth dominates; measured 22 s -> 2 s single-core at
    2.6M shingles). The siphash +b stays INSIDE the elementwise transform:
    hoisting it past the min is unsound under uint64 wraparound (adding b
    can wrap some elements and not others, changing which shingle wins),
    so chunk outputs are bit-identical to the unchunked family."""
    import hashlib

    if family == "md5affine":
        p = _MINHASH_P
        a = _MINHASH_AFF_A[:n_hashes][:, None]
        b = _MINHASH_AFF_B[:n_hashes][:, None]
        sentinel = p
    else:
        a_u = _MINHASH_A[:n_hashes]
        b_u = _MINHASH_B[:n_hashes]
        sentinel = _EMPTY_SENTINEL
    shingle_lists = [_gram_list(t, shingle_n) for t in texts]
    lengths = np.array([len(s) for s in shingle_lists], dtype=np.int64)
    out = np.full((len(texts), n_hashes), sentinel, dtype=np.int64)
    nonempty = np.flatnonzero(lengths)
    if not len(nonempty):
        return out
    flat = np.concatenate(
        [np.asarray(shingle_lists[i], dtype=object) for i in nonempty]
    )
    cum = np.cumsum(lengths[nonempty])
    offsets = np.concatenate(([0], cum[:-1]))
    chunk = 4096
    if family == "md5affine":
        codes, uniques = pd.factorize(flat)
        md5 = hashlib.md5
        ubase = np.fromiter(
            (
                int.from_bytes(md5(u.encode("utf-8")).digest()[:4], "big") % p
                for u in uniques
            ),
            dtype=np.int64,
            count=len(uniques),
        )
        base = ubase[codes]
        mins = np.empty((len(nonempty), n_hashes), dtype=np.int64)
        for lo in range(0, len(nonempty), chunk):
            hi = min(lo + chunk, len(nonempty))
            seg = base[offsets[lo] : cum[hi - 1]]
            fam = (a * seg[None, :] + b) % p
            mins[lo:hi] = np.minimum.reduceat(
                fam, offsets[lo:hi] - offsets[lo], axis=1
            ).T
        out[nonempty] = mins
    else:
        base = pd.util.hash_array(flat)  # uint64 SipHash, fixed key
        mins = np.empty((len(nonempty), n_hashes), dtype=np.uint64)
        for lo in range(0, len(nonempty), chunk):
            hi = min(lo + chunk, len(nonempty))
            seg = base[offsets[lo] : cum[hi - 1]]
            fam = a_u[:, None] * seg[None, :]
            fam += b_u[:, None]  # uint64 wraps per element (see above)
            mins[lo:hi] = np.minimum.reduceat(
                fam, offsets[lo:hi] - offsets[lo], axis=1
            ).T
        out[nonempty] = mins.view(np.int64)
    return out


def minhash_signatures_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 16,
    shingle_n: int = 3,
    family: str = "md5affine",
    id_out: str = "_id",
    sig_out: str = "_sig",
) -> DataFrame:
    """(id, sig) signature frame via ``mapInArrow`` — the one MinHash
    signature producer (values from ``_minhash_sig_matrix``). The output
    ListArray is built zero-copy from the flat (n_docs × n_hashes) matrix
    (``pa.ListArray.from_arrays``) instead of pandas' row-at-a-time
    object-Series → Arrow conversion (guide §4). Measured at docs100x
    (500k docs, 26M shingles) against the pandas-UDF form: signature
    stage 8.0 s → 6.1 s; the conversion, not the hashing, was the
    difference."""
    assert family in ("siphash", "md5affine")
    assert n_hashes <= _MINHASH_MAX_FAMILY
    import pyarrow as pa

    id_t = dict(df.dtypes)[id_col]
    nh, sn, fam = n_hashes, shingle_n, family

    def _fn(batches):
        for batch in batches:
            tb = pa.Table.from_batches([batch])
            texts = tb.column("_mtext").to_pylist()
            mat = _minhash_sig_matrix(texts, nh, sn, fam)
            n = mat.shape[0]
            sig = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(0, (n + 1) * nh, nh, dtype=np.int64),
                    type=pa.int32(),
                ),
                pa.array(mat.reshape(-1), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [tb.column("_mid").combine_chunks(), sig], ["_mid", "_msig"]
            )

    # Shingle+signature cost scales with rows, not file bytes: widen narrow
    # scans so the dense stage uses the whole box (no-op on real-scale
    # scans). The one width probe of the MinHash path: callers pass the
    # scan-rooted frame ensure_min_partitions requires.
    wide = ensure_min_partitions(df)
    out = wide.select(
        F.col(id_col).alias("_mid"), F.col(text_col).alias("_mtext")
    ).mapInArrow(_fn, f"_mid {id_t}, _msig array<bigint>")
    return out.select(
        F.col("_mid").alias(id_out), F.col("_msig").alias(sig_out)
    )


# --- MinHash + banded LSH ----------------------------------------------------


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    family: str = "siphash",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    rows-per-band r = n_hashes/bands; two docs collide if ANY band of their
    signatures matches exactly (prob ~ 1-(1-j^r)^b for Jaccard j). The
    pair generation is a self-equi-join on (band, band_hash) — a hash
    shuffle, never a cross join. Returns (id_a, id_b) with id_a < id_b,
    distinct across bands.

    ``family="md5affine"`` swaps in the DuckDB-replayable md5-affine
    signature family and the md5 band hash of ``_band_signatures``
    (oracle-checkable end-to-end).
    """
    assert n_hashes % bands == 0, "bands must divide n_hashes"
    assert family in ("siphash", "md5affine")
    r = n_hashes // bands
    sig = minhash_signatures_frame(
        df, text_col, id_col, n_hashes, shingle_n, family, sig_out="sig"
    )
    if family == "md5affine":
        banded = _band_signatures(sig, "_id", "_id", bands, r)
    else:
        banded = sig.select(
            "_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.hash(F.slice("sig", b * r + 1, r)).alias("bhash"),
                    ),
                )
            ).alias("bb"),
        ).select("_id", "bb.band", "bb.bhash")
    # Not persisted: both join sides are this one subtree hash-partitioned
    # on (band, bhash), so exchange reuse computes the signatures once
    # (the build side reads a ReusedExchange) and no job runs at build.
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        # Shuffled-hash, not sort-merge (guide §3): band hashes are
        # uniform, neither side's sort order is reusable downstream, and
        # SMJ would sort 4M+ banded rows per side just to discard the
        # order at the distinct.
        a.join(b.hint("shuffle_hash"), ["band", "bhash"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )


def jaccard_expr(a: Column, b: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays.

    |union| is derived as |a|+|b|-|intersect| (inputs are distinct), saving
    the second array materialization — intersect is the only O(|a|+|b|)
    set op per pair."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    n_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    family: str = "siphash",
) -> DataFrame:
    """LSH candidates verified with exact Jaccard >= threshold.

    One lazy plan: building it runs no Spark job and persists nothing.
    The candidates feed the id restriction and the verify joins as one
    subtree whose exchanges AQE reuses, and both verify joins read one
    shingle exchange, so each kernel runs once per document it needs.
    """
    cands = minhash_lsh_candidates(
        df, text_col, id_col, n_hashes, bands, shingle_n, family
    )

    # Verification cost must be ∝ candidates, not corpus: restrict the
    # shingle recomputation to ids that appear in some candidate pair
    # before running the shingle UDF (the id filter sits below the
    # deterministic UDF projection). AQE picks the join from the runtime
    # size of the id set.
    ids = (
        cands.select(F.col("id_a").alias("_sid"))
        .unionByName(cands.select(F.col("id_b").alias("_sid")))
        .distinct()
    )
    needed = df.join(ids, df[id_col] == ids["_sid"], "inner")
    sh = grams_frame(
        needed.select(F.col("_sid"), F.col(text_col)),
        text_col,
        shingle_n,
        "_shingles",
    )
    # Both verify joins shuffle the SAME un-renamed `sh` subtree on _sid,
    # so the second reads the first's exchange. Without the hints AQE
    # broadcast the candidates into one join (the shingle kernel inline)
    # and the shingles into the other, and the kernel ran twice.
    sa = sh.alias("sa")
    sb = sh.alias("sb")
    return (
        cands.join(sa.hint("shuffle_hash"), F.col("id_a") == F.col("sa._sid"))
        .join(sb.hint("shuffle_hash"), F.col("id_b") == F.col("sb._sid"))
        .withColumn(
            "jaccard",
            F.round(jaccard_expr(F.col("sa._shingles"), F.col("sb._shingles")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.0,
    shingle_n: int = 3,
) -> DataFrame:
    """Exact Jaccard pairs WITHIN a blocking key (oracle-checkable).

    Two physical strategies with identical output:

    - threshold > 0: set-similarity join — explode shingles, equi-join on
      (block, shingle), count common shingles per pair, derive jaccard from
      |a|+|b|-|common|. Work is proportional to actual shingle collisions,
      never |block|^2 set materializations; all shuffles are equi-joins.
      (Pairs with no common shingle have jaccard 0 < threshold, so the
      join's inner semantics lose nothing.)
    - threshold <= 0: genuine all-pairs within the block (must include
      zero-overlap pairs), per-pair array intersection.

    Shingles come from ``grams_frame`` (the same sets as
    ``word_shingles_expr``: single-space split, join, dedup). The shingle
    projection feeds 2-3 plan branches (sizes + both join sides), so it is
    persisted: shingling runs once, not per branch (measured 3x ~14 s at
    50k docs before the hoist).
    """
    narrow = ensure_min_partitions(
        df.select(
            F.col(block_col).alias("_blk"),
            F.col(id_col).alias("_id"),
            F.col(text_col),
        )
    )
    sh = grams_frame(narrow, text_col, shingle_n, "_sh").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Eager: the 2-3 consumer branches are concurrent shuffle-map stages —
    # a lazy persist lets each recompute the shingling before any caches.
    sh.count()
    if threshold <= 0:
        a = sh.alias("a")
        b = sh.alias("b")
        return (
            a.join(b, "_blk")
            .filter(F.col("a._id") < F.col("b._id"))
            .withColumn("jaccard", F.round(jaccard_expr(F.col("a._sh"), F.col("b._sh")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select(
                F.col("_blk").alias(block_col),
                F.col("a._id").alias("id_a"),
                F.col("b._id").alias("id_b"),
                "jaccard",
            )
        )

    sizes = sh.select("_blk", "_id", F.size("_sh").alias("_sz"))
    tok = sh.select("_blk", "_id", F.explode("_sh").alias("_s"))
    a = tok.alias("a")
    b = tok.alias("b")
    common = (
        a.join(
            # shuffle_hash (guide §3.2): the exploded token stream is a
            # multi-million-row relation — broadcasting it builds the hash
            # table once per task on the driver's copy; gram keys are
            # uniform and nothing downstream reuses a sort order
            # (measured 5.9-7.5 s -> 2.3-2.6 s for the census at docs10x).
            b.hint("shuffle_hash"),
            (F.col("a._blk") == F.col("b._blk")) & (F.col("a._s") == F.col("b._s")),
        )
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(
            F.col("a._blk").alias("_blk"),
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    sa = sizes.select(
        F.col("_blk"), F.col("_id").alias("id_a"), F.col("_sz").alias("_sz_a")
    )
    sb = sizes.select(
        F.col("_blk"), F.col("_id").alias("id_b"), F.col("_sz").alias("_sz_b")
    )
    union_sz = F.col("_sz_a") + F.col("_sz_b") - F.col("_common")
    return (
        common.join(sa, ["_blk", "id_a"])
        .join(sb, ["_blk", "id_b"])
        .withColumn(
            "jaccard",
            F.round(
                F.when(union_sz > 0, F.col("_common").cast("double") / union_sz).otherwise(
                    F.lit(0.0)
                ),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("_blk").alias(block_col), "id_a", "id_b", "jaccard")
    )


# --- SimHash -----------------------------------------------------------------


def md5_token_hash(t: Column) -> Column:
    """32-bit token hash DuckDB can reproduce exactly: the first 8 hex
    chars of md5 as an integer (`CAST('0x'||substr(md5(t),1,8) AS BIGINT)`
    on the SQL side)."""
    return F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")


def simhash_expr(text: Column, bits: int = 32, hash_fn=F.hash) -> Column:
    """SimHash of a whitespace-tokenized text as one native aggregate.

    Per token, ``hash_fn`` (murmur3 by default; ``md5_token_hash`` for the
    oracle-reproducible flavor); bit i contributes +1/-1 to counter i; the
    final hash sets bit i where the counter is positive. Implemented as a
    single ``aggregate`` whose accumulator is the int array of counters —
    one pass over the token array, no Python.
    """
    toks = F.split(text, " ")
    # Bit positions are Python ints (shiftright/shiftleft take int numBits),
    # so the per-bit array is built with a driver-side comprehension; the
    # whole thing is still one Catalyst aggregate over the token array.
    counters = F.aggregate(
        toks,
        F.array_repeat(F.lit(0), bits),
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[
                    # cast: a long-typed hash_fn (md5 flavor) must not
                    # widen the accumulator array's int element type
                    (F.shiftright(hash_fn(t), i).bitwiseAND(F.lit(1)) * 2 - 1).cast("int")
                    for i in range(bits)
                ]
            ),
            lambda x, y: x + y,
        ),
    )
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.when(
            F.element_at(counters, i + 1) > 0, F.lit(1 << i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return out


def hamming_expr(a: Column, b: Column) -> Column:
    """Hamming distance between two simhashes: popcount(a XOR b)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 32,
    block_bits: int = 16,
    hash_fn=F.hash,
) -> DataFrame:
    """Near-dup pairs by simhash: block on the top ``block_bits`` bits
    (docs differing only in low bits still collide), verify hamming
    distance within block. Blocking keeps the join an equi-join."""
    df = ensure_min_partitions(df)
    h = (
        df.select(
            F.col(id_col).alias("_id"),
            simhash_expr(F.col(text_col), bits, hash_fn).alias("_sim"),
        )
        .withColumn("_blk", F.shiftright(F.col("_sim"), bits - block_bits))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    h.count()  # eager: the self-join would otherwise compute simhashes twice
    a = h.alias("a")
    b = h.alias("b")
    return (
        a.join(b, "_blk")
        .filter(F.col("a._id") < F.col("b._id"))
        .withColumn("hamming", hamming_expr(F.col("a._sim"), F.col("b._sim")))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"), "hamming")
    )


# --- embedding near-dup -------------------------------------------------------


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-dup: LSH-bucket (sign hyperplanes) then exact
    cosine within bucket. Same bucketing as similarity.lsh_bucketed_topk."""
    from asctb_ct_label_mapper_spark.functions.vector import cosine_expr
    from asctb_ct_label_mapper_spark.operators.similarity import (
        lsh_signature_expr,
        random_hyperplanes,
    )

    dim = len(df.select(vec_col).first()[0])
    planes = random_hyperplanes(dim, n_planes, seed)
    df = ensure_min_partitions(df)
    h = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")).withColumn(
        "_bucket", lsh_signature_expr(F.col("_v"), planes)
    )
    a = h.alias("a")
    b = h.alias("b")
    return (
        a.join(b, "_bucket")
        .filter(F.col("a._id") < F.col("b._id"))
        .withColumn("cosine", F.round(cosine_expr(F.col("a._v"), F.col("b._v")), 6))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"), "cosine")
    )


# --- duplicate-group formation (connected components) -------------------------

# Pair sets up to this many rows are resolved on the driver from one bounded
# read (``dq.fetch_bounded``) — the bound of the graph module's local folds.
LOCAL_PAIR_ROWS = 2_000_000


def _min_label_rounds(
    src: np.ndarray, dst: np.ndarray, max_iter: int
) -> tuple[np.ndarray, np.ndarray]:
    """Synchronous min-label rounds over an undirected edge list, on the
    driver: positions of the distinct ids in the concatenated ``src`` +
    ``dst`` array (ascending by id), and each one's label position. One
    round sets every node's label to the min over itself and its
    neighbours' previous labels — the relational loop's round — capped at
    ``max_iter`` and stopping at the first round that changes nothing, so
    the capped output is the loop's too. ``np.unique`` sorts the ids, so
    min over positions is min over ids."""
    ids = np.concatenate([src, dst])
    _, first, codes = np.unique(ids, return_index=True, return_inverse=True)
    s, d = codes[: len(src)], codes[len(src) :]
    label = np.arange(len(first))
    for _ in range(max_iter):
        new = label.copy()
        np.minimum.at(new, s, label[d])
        np.minimum.at(new, d, label[s])
        if np.array_equal(new, label):
            break
        label = new
    return first, first[label]


def duplicate_groups(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    all_ids: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 15,
) -> DataFrame:
    """Turn near-duplicate PAIR lists into canonical duplicate GROUPS via
    min-label propagation (connected components; SURVEY §7 step 7
    "connected components via union-find over edges") — no GraphFrames.

    Each node's label starts as its own id; every round takes the min over
    {self} ∪ neighbours' labels, until a fixpoint (or ``max_iter``). The
    component label is therefore the MIN id in the component, which
    doubles as the deterministic canonical pick.

    Returns one row per id (every id in ``all_ids`` if given, else every id
    appearing in a pair): (id_col, group_id, group_size, is_canonical).
    Singletons form their own group of size 1. A pair with a NULL endpoint
    adds no edge and no node.

    Two paths, one output. The two id columns are checkpointed and
    fetched once through :func:`dq.fetch_bounded` (``LOCAL_PAIR_ROWS``):

    - up to ``LOCAL_PAIR_ROWS`` pairs (every verified pair set the
      registry and bench build), the rounds run in numpy on the driver and
      the labels come back as a ``LocalTableScan``. Iterating distributed
      jobs would pay 4-6 scheduler round-trips per round under AQE
      (broadcast, shuffle map, count, checkpoint) for a table that fits
      in MBs — the rule textstats' BPE states.
    - past the bound, the same rounds run relationally over the
      checkpointed projection: each round is one hash-shuffle equi-join
      on node id plus a groupBy-min, checkpointed lazily, and one count
      of the changed labels both materialises the checkpoint and probes
      convergence. The checkpoints truncate lineage; un-truncated plans
      would grow 2^k (every round reads ``labels`` twice).

    Either way the pairs' upstream plan executes once. Convergence is
    O(graph diameter) rounds, and near-dup graphs are near-cliques
    (diameter 2-3), so the cap is generous; a pathological mega-cluster
    would warrant large-star/small-star, O(log^2 n) rounds.
    """
    id_t = pairs.select(F.array(id_a, id_b)).schema[0].dataType.elementType
    ends = (
        pairs.select(
            F.col(id_a).cast(id_t).alias("src"), F.col(id_b).cast(id_t).alias("dst")
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .localCheckpoint(eager=False)
    )
    # the probe computes every partition, so the checkpoint is complete
    # after it and the loop reads it instead of the upstream plan
    probe = fetch_bounded(ends, ["src", "dst"], LOCAL_PAIR_ROWS)
    if probe is not None:
        import pyarrow as pa

        src, dst = (probe.column(c).combine_chunks() for c in ("src", "dst"))
        first, label = _min_label_rounds(
            src.to_numpy(zero_copy_only=False),
            dst.to_numpy(zero_copy_only=False),
            max_iter,
        )
        ids = pa.concat_arrays([src, dst])
        schema = T.StructType(
            [T.StructField("node", id_t), T.StructField("label", id_t)]
        )
        labels = pairs.sparkSession.createDataFrame(
            pa.table({"node": ids.take(first), "label": ids.take(label)}),
            schema,
        )
    else:
        labels = _label_propagation(ends, max_iter)
    if all_ids is not None:
        out = (
            all_ids.select(F.col(id_col).alias("node"))
            .join(labels, "node", "left")
            .select(
                F.col("node").alias(id_col),
                F.coalesce("label", "node").alias("group_id"),
            )
        )
    else:
        out = labels.select(F.col("node").alias(id_col), F.col("label").alias("group_id"))
    w = Window.partitionBy("group_id")
    return out.withColumn("group_size", F.count(F.lit(1)).over(w)).withColumn(
        "is_canonical", F.col(id_col) == F.col("group_id")
    )


def _label_propagation(ends: DataFrame, max_iter: int) -> DataFrame:
    """``duplicate_groups``' rounds as Spark jobs, for pair sets past the
    driver bound: (node, label) over the checkpointed (src, dst) ends,
    read once — one explode of both directions."""
    edges = (
        ends.select(
            F.explode(
                F.array(
                    F.struct("src", "dst"),
                    F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _it in range(max_iter):
        nbr = edges.join(labels, edges["dst"] == labels["node"]).select(
            edges["src"].alias("node"), "label", F.lit(False).alias("_is_self")
        )
        # The previous label rides through the union as the `_is_self` row,
        # so convergence detection is a filter over the materialized result
        # — no separate probe join per iteration.
        new_labels = (
            labels.select("node", "label", F.lit(True).alias("_is_self"))
            .unionByName(nbr)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("_is_self"), F.col("label"))).alias("_prev"),
            )
            .localCheckpoint(eager=False)
        )
        # ONE job: the unrestricted-filter count materializes the lazy
        # checkpoint (count reads every partition) AND returns the
        # convergence count. changed == 0 means labels reproduced
        # themselves — a fixpoint — at any round.
        changed = new_labels.filter(F.col("label") != F.col("_prev")).count()
        labels = new_labels.drop("_prev")
        if changed == 0:
            break
    return labels


def group_representatives(
    groups: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Representative SELECTION over ``duplicate_groups`` output: instead
    of the structural canonical (min id), keep the BEST document per group
    — highest ``quality_col``, ties to the lowest id — the policy a real
    curation pipeline wants ("keep the longest/highest-quality copy, drop
    the rest").

    Returns one row per GROUP: (group_id, id_col, quality, group_size).

    Scale shape: one broadcast-able equi-join on id (groups and df are
    co-partitionable on the id key) then a window over group_id — the
    window's partition count equals the number of groups, skew bounded by
    the largest duplicate cluster, the same bound as the group formation
    that produced the groups.
    """
    w = Window.partitionBy("group_id").orderBy(
        F.desc("quality"), F.asc(F.col(id_col))
    )
    joined = groups.select(id_col, "group_id", "group_size").join(
        df.select(id_col, F.col(quality_col).alias("quality")), id_col
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("group_id", id_col, "quality", "group_size")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Ingest-time MinHash signature builder — the WRITE half of the
    incremental-dedup seam (VERDICT r6 #4): ``(id_col, sig array<bigint>)``
    from the md5-affine family. Production writes this once per ingested
    shard via the parquet sink (S7) next to the corpus; every later
    incremental-dedup query then reads the signatures table instead of
    re-deriving n_hashes minhashes from 100 TB of text. Raw signatures
    (not bands) are stored so ``bands`` stays a query-time knob."""
    return minhash_signatures_frame(
        df, text_col, id_col, n_hashes, shingle_n, "md5affine",
        id_out=id_col, sig_out="sig",
    )


def _band_signatures(
    sig_df: DataFrame, id_col: str, out_id: str, bands: int, r: int
) -> DataFrame:
    """(id, sig) -> exploded (id, band, bhash): native slice/md5 over the
    signature array, no text and no Python anywhere. bhash is the packed
    binary(16) digest (unhex) — equality-only key, half the shuffle bytes
    of the hex string."""
    return sig_df.select(
        F.col(id_col).alias(out_id),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.unhex(
                        F.md5(
                            F.array_join(
                                F.transform(
                                    F.slice("sig", b * r + 1, r),
                                    lambda x: x.cast("string"),
                                ),
                                "|",
                            )
                        )
                    ).alias("bhash"),
                ),
            )
        ).alias("bb"),
    ).select(out_id, "bb.band", "bb.bhash")


def minhash_dedup_incremental(
    corpus: DataFrame | None,
    batch: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.2,
    n_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    corpus_signatures: DataFrame | None = None,
    batch_signatures: DataFrame | None = None,
    verify: str = "exact",
) -> DataFrame:
    """INCREMENTAL dedup — the production shape: a NEW batch of documents
    checked for near-duplicates against an EXISTING corpus (md5-affine
    MinHash family, so a SQL oracle replays every hash).

    Scale contract (the reason this is not just ``minhash_dedup_pairs`` on
    the union): the corpus side is NEVER reshuffled. Batch bands are small
    by definition and are BROADCAST against the corpus band stream, so
    candidate generation is one corpus scan + a broadcast hash join — at
    100 TB of corpus and a daily-ingest-sized batch, the corpus signature
    scan is the only big cost.

    The precomputed-signature seam (VERDICT r6 #4): pass
    ``corpus_signatures`` / ``batch_signatures`` — ``(id, sig)`` tables
    written at ingest by :func:`minhash_signatures` via the parquet sink —
    and candidate generation bands those arrays natively, never touching
    text. Two verification modes:

    - ``verify='exact'`` (default): exact Jaccard on shingles, recomputed
      from text for the CANDIDATE ids only (corpus text becomes
      candidate-proportional point reads).
    - ``verify='estimate'``: the MinHash agreement fraction
      (matching components / n_hashes — the unbiased Jaccard estimator the
      signatures exist for). With ``corpus_signatures`` this makes the
      whole query path TEXT-FREE: ``corpus=None`` is allowed, and a 100 TB
      corpus is represented purely by its n_hashes*8-byte signature rows.
      Resolution is 1/n_hashes, and all-empty docs (sentinel signatures)
      estimate 1.0 against each other — acceptable for the dedup decision
      the estimate serves; use 'exact' when the score itself matters.

    Returns (batch_id, match_id, jaccard >= threshold) — ``jaccard`` is
    the estimate under ``verify='estimate'``.
    """
    assert n_hashes % bands == 0, "bands must divide n_hashes"
    assert verify in ("exact", "estimate")
    if corpus is None and (corpus_signatures is None or verify != "estimate"):
        raise ValueError(
            "corpus=None requires corpus_signatures and verify='estimate' "
            "(text is needed otherwise)"
        )
    if batch is None and (batch_signatures is None or verify != "estimate"):
        raise ValueError(
            "batch=None requires batch_signatures and verify='estimate'"
        )
    r = n_hashes // bands

    from asctb_ct_label_mapper_spark.plans.cache import pooled_persist

    def checked_sig(sig: Column) -> Column:
        # A supplied signature table with the wrong family width would
        # otherwise fail SILENTLY (short slices band on partial
        # signatures; zip_with pads with nulls so every estimate goes
        # NULL and every match drops). Fail loud instead, per row.
        return F.when(F.size(sig) == n_hashes, sig).otherwise(
            F.raise_error(
                f"signature length != n_hashes={n_hashes} "
                "(was the table written with a different family size?)"
            ).cast("array<bigint>")
        )

    def sig_of(df: DataFrame | None, sigs: DataFrame | None) -> DataFrame:
        if sigs is not None:
            return sigs.select(F.col(id_col), checked_sig(F.col("sig")).alias("sig"))
        return minhash_signatures(df, text_col, id_col, n_hashes, shingle_n)

    bsig = sig_of(batch, batch_signatures)
    csig = sig_of(corpus, corpus_signatures)

    def banded(sig: DataFrame, out_id: str) -> DataFrame:
        return _band_signatures(sig, id_col, out_id, bands, r)

    # pooled (plans/cache.py): released at the next registry-query entry
    # or an explicit drain — the streaming loop drains per micro-batch so
    # a continuous ingest never accumulates cache entries
    bb = pooled_persist(banded(bsig, "batch_id"), StorageLevel.MEMORY_AND_DISK)
    bb.count()  # eager: broadcast side, computed once
    cands = pooled_persist(
        banded(csig, "match_id")
        .join(F.broadcast(bb), ["band", "bhash"])
        .filter(F.col("match_id") != F.col("batch_id"))
        .select("batch_id", "match_id")
        .distinct(),
        StorageLevel.MEMORY_AND_DISK,
    )
    n_cand = cands.count()  # eager: feeds the id restriction + verify join

    # candidate-id restriction is verify-independent: hoisted above the
    # branch so both modes share one broadcast heuristic
    match_ids = cands.select(F.col("match_id").alias("_mid")).distinct()
    if n_cand <= 2_000_000:
        match_ids = F.broadcast(match_ids)

    if verify == "estimate":
        # Signature-agreement verify: candidate-restricted joins back onto
        # the two signature tables, one 16-element zip_with per pair. No
        # text column is referenced anywhere in this plan.
        bs = bsig.select(
            F.col(id_col).alias("batch_id"), F.col("sig").alias("_sig_b")
        )
        ms = csig.join(match_ids, csig[id_col] == match_ids["_mid"]).select(
            F.col("_mid").alias("match_id"), F.col("sig").alias("_sig_m")
        )
        est = (
            F.aggregate(
                F.zip_with(
                    F.col("_sig_b"),
                    F.col("_sig_m"),
                    lambda x, y: (x == y).cast("int"),
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / F.lit(float(n_hashes))
        )
        return (
            cands.join(F.broadcast(bs), "batch_id")
            .join(ms, "match_id")
            .withColumn("jaccard", F.round(est, 6))
            .filter(F.col("jaccard") >= threshold)
            .select("batch_id", "match_id", "jaccard")
        )

    bsh = grams_frame(
        batch.select(F.col(id_col).alias("batch_id"), F.col(text_col)),
        text_col,
        shingle_n,
        "_sh_b",
    )
    msh = grams_frame(
        corpus.join(match_ids, corpus[id_col] == match_ids["_mid"]).select(
            F.col("_mid").alias("match_id"), F.col(text_col)
        ),
        text_col,
        shingle_n,
        "_sh_m",
    )
    return (
        cands.join(F.broadcast(bsh), "batch_id")
        .join(msh, "match_id")
        .withColumn("jaccard", F.round(jaccard_expr(F.col("_sh_b"), F.col("_sh_m")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("batch_id", "match_id", "jaccard")
    )


# --- cross-document duplicated n-gram spans ----------------------------------


def dup_ngram_spans(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-level duplication profile (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better": exact-substring dedup,
    here at n-gram granularity instead of suffix-array byte spans): for
    each document, how many of its word n-grams also occur in ANOTHER
    document. The doc-level near-dup families (MinHash/SimHash/Jaccard)
    miss boilerplate shared between otherwise-distinct docs; this is the
    operator that catches it.

    Plan shape: one narrow pass explodes each doc's n-grams (positions
    stay local), ONE hash-uniform shuffle groups by gram to count distinct
    source docs (map-side partial agg), and the corpus-duplicated gram set
    joins back on the same gram key to produce per-doc counts. At 100 TB
    this is the canonical token-count MapReduce shape — no all-pairs, no
    skew beyond natural gram frequency (mitigable by salting the count agg
    if a stop-gram dominates; the second join is an equi-join that AQE can
    convert to broadcast when the duplicated-gram set is small).

    Output: (id, n_grams, n_dup_grams, dup_fraction) for docs with at
    least one n-gram.

    Grams come from ``grams_frame(dedup=False)`` — the native
    transform+slice HOF is interpreted per element and ~10x slower on the
    dense tiers. It and the SQL mirror tokenize by single space, empties
    kept — the module-wide convention."""
    df = ensure_min_partitions(df)
    grams = grams_frame(
        df.select(F.col(id_col), F.col(text_col)),
        text_col,
        n,
        "_g",
        dedup=False,
    ).select(F.col(id_col), F.explode("_g").alias("gram"))
    per_gram = grams.groupBy("gram").agg(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )
    dup_grams = per_gram.filter(F.col("n_docs") > 1).select("gram")
    per_doc = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    dup_per_doc = (
        grams.join(dup_grams, "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_dup_grams"))
    )
    return (
        per_doc.join(dup_per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias("n_dup_grams"),
            F.round(
                F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("double")
                / F.col("n_grams"),
                6,
            ).alias("dup_fraction"),
        )
    )


def sql_dup_ngram_spans(
    table: str = "documents",
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``dup_ngram_spans`` (lateral generate_series over
    the token list, same single-space split and re-join of each n-gram)."""
    return f"""
    WITH toks AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS t
        FROM {table}
    ),
    grams AS (
        SELECT {id_col}, array_to_string(t[i:i+{n - 1}], ' ') AS gram
        FROM toks, unnest(generate_series(1, len(t) - {n} + 1)) AS g(i)
    ),
    dup_grams AS (
        SELECT gram FROM grams GROUP BY gram
        HAVING count(DISTINCT {id_col}) > 1
    ),
    per_doc AS (
        SELECT {id_col}, count(*) AS n_grams FROM grams GROUP BY {id_col}
    ),
    dup_per_doc AS (
        SELECT g.{id_col}, count(*) AS n_dup_grams
        FROM grams g JOIN dup_grams d USING (gram)
        GROUP BY g.{id_col}
    )
    SELECT p.{id_col}, p.n_grams,
        coalesce(d.n_dup_grams, 0) AS n_dup_grams,
        round(CAST(coalesce(d.n_dup_grams, 0) AS DOUBLE) / p.n_grams, 6)
            AS dup_fraction
    FROM per_doc p LEFT JOIN dup_per_doc d USING ({id_col})
    """


def remove_dup_ngrams(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-substring scrub (the REMOVAL half of Lee et al. 2022 — the
    profiler ``dup_ngram_spans`` only measures): delete every token that
    sits inside a word n-gram occurring in MORE THAN ONE document. This is
    the boilerplate stripper (licenses, navigation chrome, shared
    disclaimers) that doc-level dedup cannot touch, because the hosting
    documents are otherwise distinct.

    Plan shape (three shuffles, no all-pairs):
    1. narrow gram emission with LOCAL positions (posexplode keeps the
       start index — no window, no sort), persisted eagerly because two
       consumers read it;
    2. the same hash-uniform gram aggregate as the profiler yields the
       corpus-duplicated gram set, which equi-joins back (AQE broadcasts
       it when small — the usual case: boilerplate is few distinct grams);
    3. duplicated START positions re-aggregate per doc, expand to covered
       token positions with native array ops, and one join back to the
       source row rebuilds the text by position filter.

    Token positions are 1-based. Docs shorter than ``n`` tokens or with
    no duplicated grams pass through unchanged. Returns
    (id_col, n_tokens, n_removed, clean_text).
    """
    df = ensure_min_partitions(df)
    pos_src = grams_frame(
        df.select(F.col(id_col), F.col(text_col)),
        text_col,
        n,
        "_g",
        dedup=False,
    ).select(F.col(id_col), F.posexplode("_g").alias("pos0", "gram"))
    pos_grams = (
        pos_src
        .select(F.col(id_col), (F.col("pos0") + 1).alias("start"), "gram")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Eager persist: two consumers (the dup-gram aggregate and the join
    # back) would otherwise each re-run the Arrow gram emission — the
    # lazy-persist double-evaluation trap SCALING.md documents; the gram
    # pass is the expensive stage here (~15 s per pass at docs100x). The
    # cache has no unpersist path before the returned plan runs — session
    # owners reclaim it via spark.catalog.clearCache() between operators,
    # as the bench and correctness harnesses do.
    pos_grams.count()
    dup_grams = (
        pos_grams.groupBy("gram")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("gram")
    )
    covered = (
        pos_grams.join(dup_grams, "gram")
        .groupBy(id_col)
        .agg(F.collect_set("start").alias("_starts"))
        .select(
            F.col(id_col),
            F.array_distinct(
                F.flatten(
                    F.transform(
                        F.col("_starts"),
                        lambda s: F.sequence(s, s + F.lit(n - 1)),
                    )
                )
            ).alias("_covered"),
        )
    )
    toks = F.split(F.col(text_col), " ")
    joined = df.select(F.col(id_col), toks.alias("_toks")).join(
        covered, id_col, "left"
    )
    cov = F.coalesce(F.col("_covered"), F.array().cast("array<int>"))
    kept = F.filter(
        F.sequence(F.lit(1), F.size("_toks")),
        lambda i: ~F.array_contains(cov, i),
    )
    return joined.select(
        F.col(id_col),
        F.size("_toks").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).alias("n_removed"),
        F.array_join(
            F.transform(kept, lambda i: F.element_at("_toks", i)), " "
        ).alias("clean_text"),
    )


def sql_remove_dup_ngrams(
    table: str = "documents",
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB replay of ``remove_dup_ngrams`` (same 1-based positions,
    same single-space tokenization, list comprehensions for the
    position-filter rebuild)."""
    return f"""
    WITH toks AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS t
        FROM {table}
    ),
    grams AS (
        SELECT {id_col}, i AS start, array_to_string(t[i:i+{n - 1}], ' ') AS gram
        FROM toks, unnest(generate_series(1, len(t) - {n} + 1)) AS g(i)
    ),
    dup_grams AS (
        SELECT gram FROM grams GROUP BY gram
        HAVING count(DISTINCT {id_col}) > 1
    ),
    covered AS (
        SELECT {id_col},
            list_distinct(flatten(list(generate_series(start, start + {n - 1}))))
                AS cov
        FROM grams JOIN dup_grams USING (gram)
        GROUP BY {id_col}
    )
    SELECT k.{id_col},
        len(k.t) AS n_tokens,
        len(k.t) - len(kept) AS n_removed,
        coalesce(array_to_string([k.t[i] for i in kept], ' '), '')
            AS clean_text
    FROM (
        SELECT toks.{id_col}, toks.t,
            [i for i in generate_series(1, len(toks.t))
             if NOT list_contains(coalesce(covered.cov, []), i)] AS kept
        FROM toks LEFT JOIN covered USING ({id_col})
    ) k
    """


# --- dedup-strategy quality metrics ------------------------------------------


def pair_metrics(
    predicted: DataFrame,
    truth: DataFrame,
    id_cols: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Confusion metrics of one pair set against a ground-truth pair set —
    the QA operator a pipeline runs before trusting an APPROXIMATE dedup
    strategy at scale: how much of the exact-Jaccard truth does the
    banded/LSH/SimHash candidate family actually recover, and at what
    false-positive cost?

    One full-outer equi-join on the normalized pair key, then a single
    conditional aggregate. Both inputs are pair-sized (candidate-
    proportional), never corpus-sized, so the evaluation costs what the
    strategies themselves cost. Returns ONE row:
    (n_pred, n_truth, tp, fp, fn, precision, recall, f1) — counts BIGINT,
    ratios rounded 6dp, null when undefined (empty side).
    """
    a, b = id_cols
    p = predicted.select(a, b).distinct().withColumn("_p", F.lit(1))
    t = truth.select(a, b).distinct().withColumn("_t", F.lit(1))
    j = p.join(t, [a, b], "full_outer")
    # coalesce: sum over ZERO rows (both inputs empty) is NULL, but the
    # contract is counts — an empty evaluation is all-zeros, not all-nulls
    tp = F.coalesce(
        F.sum(
            F.when(F.col("_p").isNotNull() & F.col("_t").isNotNull(), 1).otherwise(0)
        ),
        F.lit(0),
    )
    fp = F.coalesce(
        F.sum(
            F.when(F.col("_p").isNotNull() & F.col("_t").isNull(), 1).otherwise(0)
        ),
        F.lit(0),
    )
    fn = F.coalesce(
        F.sum(
            F.when(F.col("_p").isNull() & F.col("_t").isNotNull(), 1).otherwise(0)
        ),
        F.lit(0),
    )
    agg = j.agg(
        (tp + fp).cast("bigint").alias("n_pred"),
        (tp + fn).cast("bigint").alias("n_truth"),
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
    )
    prec = F.when(
        F.col("n_pred") > 0, F.col("tp").cast("double") / F.col("n_pred")
    )
    rec = F.when(
        F.col("n_truth") > 0, F.col("tp").cast("double") / F.col("n_truth")
    )
    return (
        agg.withColumn("_prec", prec)
        .withColumn("_rec", rec)
        .select(
            "n_pred",
            "n_truth",
            "tp",
            "fp",
            "fn",
            F.round("_prec", 6).alias("precision"),
            F.round("_rec", 6).alias("recall"),
            F.round(
                F.when(
                    (F.col("_prec") + F.col("_rec")) > 0,
                    2 * F.col("_prec") * F.col("_rec")
                    / (F.col("_prec") + F.col("_rec")),
                ),
                6,
            ).alias("f1"),
        )
    )


def sql_pair_metrics(
    pred_sql: str,
    truth_sql: str,
    id_cols: tuple[str, str] = ("id_a", "id_b"),
) -> str:
    """DuckDB replay of ``pair_metrics`` over two pair-producing
    subqueries (any key pair — dedup pairs, ANN (query, neighbor) pairs)."""
    a, b = id_cols
    keys = f"{a}, {b}"
    return f"""
    WITH pred AS (SELECT DISTINCT {keys}, 1 AS p FROM ({pred_sql})),
    truth AS (SELECT DISTINCT {keys}, 1 AS t FROM ({truth_sql})),
    j AS (SELECT p, t FROM pred FULL OUTER JOIN truth USING ({keys})),
    counts AS (
        SELECT
            CAST(coalesce(sum(CASE WHEN p IS NOT NULL AND t IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
            CAST(coalesce(sum(CASE WHEN p IS NOT NULL AND t IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
            CAST(coalesce(sum(CASE WHEN p IS NULL AND t IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn
        FROM j
    )
    SELECT tp + fp AS n_pred, tp + fn AS n_truth, tp, fp, fn,
        round(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)/(tp + fp) END, 6) AS precision,
        round(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)/(tp + fn) END, 6) AS recall,
        round(CASE WHEN tp + fp > 0 AND tp + fn > 0
                    AND CAST(tp AS DOUBLE)/(tp + fp) + CAST(tp AS DOUBLE)/(tp + fn) > 0
              THEN 2 * (CAST(tp AS DOUBLE)/(tp + fp)) * (CAST(tp AS DOUBLE)/(tp + fn))
                   / (CAST(tp AS DOUBLE)/(tp + fp) + CAST(tp AS DOUBLE)/(tp + fn)) END, 6) AS f1
    FROM counts
    """


# --- bloom-filter ledger prefilter ------------------------------------------


def bloom_positions(text: Column, k: int = 4, m: int = 1 << 16) -> Column:
    """``k`` bloom bit positions for a text's content hash, as one native
    expression: Kirsch-Mitzenmacher double hashing pos_i = (h1 + i*h2)
    mod m over the two 32-bit halves of md5 — deterministic and exactly
    replayable in DuckDB (same md5 hex, same arithmetic), unlike Spark's
    built-in BloomFilter sketch whose layout is JVM-private."""
    h = F.md5(text)
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    return F.array(*[(h1 + F.lit(i) * h2) % m for i in range(k)])


def bloom_prefilter_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    m: int = 1 << 16,
) -> DataFrame:
    """Membership prefilter for ledger dedup: is each batch document's
    exact content already in the corpus?

    The direct answer is an anti-join of the batch against the corpus
    hash ledger — at 100 TB that shuffles the FULL ledger every batch.
    The bloom rewrite bounds it: the ledger folds once into an m-bit
    bitset (aggregate -> at most m distinct set bits -> driver collect
    bounded by m/8 bytes regardless of corpus size -> broadcast), the
    batch tests membership map-side against the broadcast bits, and only
    the "maybe" fraction (true dups + the deterministic false-positive
    rate) reaches the exact-verify equi-join. Definite negatives — the
    bulk of a healthy ingest — never shuffle.

    Returns per batch row: (id, bloom_maybe, is_dup). bloom_maybe=1 &&
    is_dup=0 rows are the realized false positives, so the query output
    itself measures the filter (sized here at m/n ≈ 10+ bits/key ->
    fp ~ 2-3% at k=4). Every bit position is md5-derived, so the whole
    report is value-deterministic and oracle-checkable."""
    corpus_bits = (
        corpus.select(
            F.explode(bloom_positions(F.col(text_col), k, m)).alias("pos")
        )
        .distinct()
    )
    # bounded collect: at most m ints (m defaults to 64Ki -> 8 KiB bitset)
    set_bits = [r.pos for r in corpus_bits.collect()]
    bits = np.zeros(m, dtype=bool)
    bits[set_bits] = True
    sc = corpus.sparkSession.sparkContext
    b_bits = sc.broadcast(bits)

    @F.pandas_udf(T.IntegerType())
    def _maybe(pos: pd.Series) -> pd.Series:
        bb = b_bits.value
        mat = np.stack(pos.to_numpy())  # (rows, k) int64
        return pd.Series(bb[mat].all(axis=1).astype("int32"))

    # NOTE (r14, examined + rejected): the union's verify/negatives
    # branches each re-run the batch scan and the bloom-membership UDF
    # (plan shows two ArrowEvalPython nodes). Persisting this frame to
    # share the UDF pass was A/B'd at sf0.1 / docs10x / docs100x and
    # was flat-to-slower at every scale (docs100x min-of-3: 2.85-3.33 s
    # unpersisted vs 3.46-8.36 s persisted) — materializing the
    # batch-sized (id, md5, maybe) frame costs more than the second
    # cheap vectorized pass. Left unpersisted on measurement.
    #
    # What IS free to remove (guide §4.4): within EACH branch the
    # bloom_maybe filter was pushed BELOW the UDF's projection, so every
    # branch evaluated _maybe twice (plan: two ArrowEvalPython per scan,
    # five total). The UDF is pure; non-deterministic marking only
    # forbids the optimizer's duplication — one eval per branch.
    _maybe = _maybe.asNondeterministic()
    tested = batch.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("_h"),
        _maybe(bloom_positions(F.col(text_col), k, m)).alias("bloom_maybe"),
    )
    ledger = corpus.select(F.md5(F.col(text_col)).alias("_h")).distinct()
    verified = (
        tested.filter(F.col("bloom_maybe") == 1)
        .join(ledger.withColumn("_dup", F.lit(1)), "_h", "left")
        .select(
            id_col, "bloom_maybe", F.coalesce("_dup", F.lit(0)).alias("is_dup")
        )
    )
    negatives = tested.filter(F.col("bloom_maybe") == 0).select(
        id_col, "bloom_maybe", F.lit(0).alias("is_dup")
    )
    return negatives.unionAll(verified)


def sql_bloom_prefilter(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    split_mod: int = 10,
    split_lt: int = 7,
    k: int = 4,
    m: int = 1 << 16,
) -> str:
    """DuckDB replay of ``bloom_prefilter_dedup`` over the same
    corpus/batch split: corpus bit positions as a set, a batch row is
    bloom-positive iff all k of its positions match, dup iff its md5 is
    in the corpus ledger."""
    halves = f"""
        SELECT {id_col}, {text_col},
            CAST(('0x' || substr(md5({text_col}), 1, 8)) AS UBIGINT) AS h1,
            CAST(('0x' || substr(md5({text_col}), 9, 8)) AS UBIGINT) AS h2
        FROM {table}
    """
    return f"""
    WITH h AS ({halves}),
    corpus AS (SELECT * FROM h WHERE {id_col} % {split_mod} < {split_lt}),
    batch AS (SELECT * FROM h WHERE {id_col} % {split_mod} >= {split_lt}),
    cbits AS (
        SELECT DISTINCT (h1 + i * h2) % {m} AS pos
        FROM corpus, unnest(generate_series(0, {k - 1})) AS g(i)
    ),
    bpos AS (
        SELECT {id_col}, (h1 + i * h2) % {m} AS pos
        FROM batch, unnest(generate_series(0, {k - 1})) AS g(i)
    ),
    maybe AS (
        SELECT b.{id_col},
            CAST(count(c.pos) = {k} AS INT) AS bloom_maybe
        FROM bpos b LEFT JOIN cbits c USING (pos)
        GROUP BY b.{id_col}
    )
    SELECT b.{id_col}, mb.bloom_maybe,
        CAST(mb.bloom_maybe = 1 AND EXISTS (
            SELECT 1 FROM corpus c WHERE md5(c.{text_col}) = md5(b.{text_col})
        ) AS INT) AS is_dup
    FROM batch b JOIN maybe mb USING ({id_col})
    """


def dedup_debounce(
    df: DataFrame,
    id_col: str = "event_id",
    key_col: str = "user_id",
    ts_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Batch DEBOUNCE dedup: suppress a row when the same key's PREVIOUS
    occurrence is within ``delay`` — the batch-side companion of the
    watermarked stream dedup for retry storms and double-clicks.
    One lag window per key, one interval predicate; rows farther apart
    than the delay re-emit.

    Semantics note (stated, not hidden): this is the previous-OCCURRENCE
    rule, a pure window expression. The stream op's previous-KEPT-row
    rule (a burst longer than the delay collapses to its first row, not
    one row per delay-gap) is a sequential fold per key — for exact
    parity with `dropDuplicatesWithinWatermark` replay the stream.

    Returns the kept rows (all input columns)."""
    from pyspark.sql import Window

    if "__debounce_prev" in df.columns:
        # prefixed + guarded like asof's reserved internals: withColumn
        # would silently overwrite a user column and drop() remove it
        raise ValueError(
            "dedup_debounce reserves the internal column name "
            "'__debounce_prev'; rename it"
        )
    # asc_nulls_last: Spark defaults NULLS FIRST, DuckDB NULLS LAST —
    # without the explicit placement a NULL-ts row gets a NULL lag on
    # Spark (kept) but a real lag on DuckDB (dropped). NULLS LAST on
    # both ⇒ NULL-ts rows land after every timed row and are dropped by
    # the interval predicate (NULL > x is NULL) — deterministic and
    # engine-agnostic (r10 second review pass).
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc_nulls_last(), F.col(id_col)
    )
    prev = F.lag(ts_col).over(w)
    return (
        df.withColumn("__debounce_prev", prev)
        .filter(
            F.col("__debounce_prev").isNull()
            | (
                F.col(ts_col)
                > F.col("__debounce_prev") + F.expr(f"INTERVAL {delay}")
            )
        )
        .drop("__debounce_prev")
    )


def sql_dedup_debounce(
    table: str = "events",
    id_col: str = "event_id",
    key_col: str = "user_id",
    ts_col: str = "ts",
    delay: str = "1 hour",
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``dedup_debounce`` (same lag window, same
    strictly-greater interval predicate)."""
    return f"""
    SELECT * EXCLUDE (prev) FROM (
        SELECT *, lag({ts_col}) OVER (PARTITION BY {key_col}
            ORDER BY {ts_col} NULLS LAST, {id_col}) AS prev
        FROM {table} WHERE {where}
    )
    WHERE prev IS NULL OR {ts_col} > prev + INTERVAL {delay}
    """


def fuzzy_name_matches(
    df: DataFrame,
    name_col: str,
    block_expr: Column | None = None,
    max_dist: int = 2,
) -> DataFrame:
    """Blocked fuzzy entity matching over a NAME column: distinct names
    only (the distinct-first contract — row duplicates collapse before
    any pairing), candidate pairs generated inside equi-join BLOCKS
    (default: the name's last word), verified by Levenshtein distance
    ≤ ``max_dist``. The record-linkage primitive ('cold anvil' ~
    'old anvil') without the all-pairs cross join.

    Scale: the pair stream is Σ_block |block|² over the NAME VOCABULARY
    (not the row count); pick a blocking key that keeps blocks bounded
    — at 100 TB the vocabulary table is still broadcast-sized for most
    entity domains, and a too-coarse block shows up as one fat equi-join
    partition (AQE splits it, but a better key is the real fix).
    Returns (name_a, name_b, dist) with name_a < name_b."""
    block = (
        block_expr
        if block_expr is not None
        else F.element_at(F.split(F.col(name_col), " "), -1)
    )
    names = (
        df.filter(F.col(name_col).isNotNull())
        .select(F.col(name_col).alias("name"), block.alias("_blk"))
        .distinct()
    )
    a = names.select(
        F.col("name").alias("name_a"), F.col("_blk").alias("_ba")
    )
    b = names.select(
        F.col("name").alias("name_b"), F.col("_blk").alias("_bb")
    )
    return (
        a.join(
            b,
            (F.col("_ba") == F.col("_bb"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def sql_fuzzy_name_matches(
    table: str,
    name_col: str,
    block_sql: str | None = None,
    max_dist: int = 2,
    where: str = "1=1",
) -> str:
    """DuckDB replay of ``fuzzy_name_matches`` (same distinct-first
    blocking, same Levenshtein threshold)."""
    blk = block_sql or f"string_split({name_col}, ' ')[-1]"
    return f"""
    WITH names AS (
        SELECT DISTINCT {name_col} AS name, {blk} AS blk
        FROM {table} WHERE ({where}) AND {name_col} IS NOT NULL
    )
    SELECT a.name AS name_a, b.name AS name_b,
        CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
    FROM names a JOIN names b
        ON a.blk = b.blk AND a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {max_dist}
    """


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """DIRECTED n-gram containment pairs within a blocking key:
    c(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| — the
    asymmetric near-dup measure that catches a short document embedded
    inside a long one, where symmetric Jaccard (resemblance) stays far
    below any dedup threshold (Broder's containment, the quote /
    boilerplate-inclusion detector next to ``ngram_jaccard_pairs``).

    Plan: ONE undirected candidate census (the same shared-shingle
    equi-join discipline as the Jaccard operator — work proportional to
    shingle collisions, never |block|²), then BOTH directions project
    from the counted pair — the census runs once, not per direction
    (the association-rules persist lesson, graph.py r11 #1). Documents
    with zero shingles (< n tokens) cannot anchor a containment and are
    excluded by construction.

    ``threshold`` must be > 0: the census only surfaces pairs sharing
    ≥1 shingle, so zero-containment pairs are unrepresentable here
    (the SQL mirror, which enumerates the block quadratically, WOULD
    emit them at threshold 0 — validated away rather than silently
    divergent; r11 review finding).

    Returns (block, id_src, id_dst, containment ≥ threshold), 6dp."""
    if threshold <= 0:
        raise ValueError(
            "containment_pairs requires threshold > 0 (zero-overlap "
            "pairs never enter the shared-shingle census)"
        )
    sh = grams_frame(
        ensure_min_partitions(
            df.select(
                F.col(block_col).alias("_blk"),
                F.col(id_col).alias("_id"),
                F.col(text_col),
            )
        ),
        text_col,
        shingle_n,
        "_sh",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    sh.count()
    sizes = sh.select("_blk", "_id", F.size("_sh").alias("_sz"))
    tok = sh.select("_blk", "_id", F.explode("_sh").alias("_s"))
    a = tok.alias("a")
    b = tok.alias("b")
    common = (
        a.join(
            # shuffle_hash: same shape and rationale as the Jaccard census
            b.hint("shuffle_hash"),
            (F.col("a._blk") == F.col("b._blk"))
            & (F.col("a._s") == F.col("b._s")),
        )
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(
            F.col("a._blk").alias("_blk"),
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("_common"))
    )
    sa = sizes.select(
        F.col("_blk"), F.col("_id").alias("id_a"), F.col("_sz").alias("_sz_a")
    )
    sb = sizes.select(
        F.col("_blk"), F.col("_id").alias("id_b"), F.col("_sz").alias("_sz_b")
    )
    counted = common.join(sa, ["_blk", "id_a"]).join(sb, ["_blk", "id_b"])
    # r14 melt (same fix as graph_family_report / daily_max_concurrency):
    # the fwd/rev directions used to be a two-leg union whose legs EACH
    # re-ran the collision self-join + pair aggregate (the shingle frame
    # was cached, the census itself was not — the plan showed two
    # ShuffledHashJoin/HashAggregate census subtrees). Both directions now
    # project from ONE counted row via an inline 2-element array explode.
    # Same rows, same values; order is irrelevant (unordered pair set).
    both = counted.select(
        "_blk",
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("id_src"),
                    F.col("id_b").alias("id_dst"),
                    (F.col("_common") / F.col("_sz_a")).alias("_c"),
                ),
                F.struct(
                    F.col("id_b").alias("id_src"),
                    F.col("id_a").alias("id_dst"),
                    (F.col("_common") / F.col("_sz_b")).alias("_c"),
                ),
            )
        ).alias("_e"),
    )
    return (
        both.select("_blk", "_e.id_src", "_e.id_dst", F.col("_e._c").alias("_c"))
        .filter(F.col("_c") >= threshold)
        .select(
            F.col("_blk").alias(block_col),
            "id_src",
            "id_dst",
            F.round("_c", 6).alias("containment"),
        )
    )


def sql_containment_pairs(
    block_col: str = "source",
    threshold: float = 0.5,
) -> str:
    """DuckDB replay of :func:`containment_pairs` over ``documents``
    (word-3-gram shingles, same slice arithmetic as the Jaccard
    oracle).  Mirrors the Spark twin's threshold > 0 guard: at
    threshold <= 0 the quadratic mirror would emit zero-overlap pairs
    the shared-shingle census can never produce (silent divergence)."""
    if threshold <= 0:
        raise ValueError(
            "sql_containment_pairs requires threshold > 0 (matches "
            "containment_pairs — zero-overlap pairs are census-"
            "unrepresentable)"
        )
    return f"""
    WITH sh AS (
        SELECT {block_col} AS blk, doc_id,
            list_distinct([array_to_string(toks[i:i+2], ' ')
                           for i in range(1, greatest(len(toks) - 2, 0) + 1)])
                AS shingles
        FROM (SELECT {block_col}, doc_id, string_split(text, ' ') AS toks
              FROM documents)
    )
    SELECT a.blk AS {block_col}, a.doc_id AS id_src, b.doc_id AS id_dst,
        round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
              / len(a.shingles), 6) AS containment
    FROM sh a JOIN sh b
        ON a.blk = b.blk AND a.doc_id <> b.doc_id
    WHERE len(a.shingles) > 0
      AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(a.shingles) >= {threshold!r}
    """


# ---------------------------------------------------------------------------
# r12: LSH parameter planner (the banding S-curve)
# ---------------------------------------------------------------------------

def lsh_scurve(
    spark,
    n_hashes: int = 16,
    similarities: tuple = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> DataFrame:
    """The MinHash-LSH banding S-curve as a queryable table: for every
    factorization n_hashes = bands × rows_per_band and every Jaccard
    similarity s in ``similarities``, the candidate probability

        P(candidate | s) = 1 − (1 − s^r)^b

    — the planner that justifies this module's (bands, rows) defaults:
    reading the table shows where each configuration's threshold
    s* ≈ (1/b)^(1/r) sits and how sharp the transition is, which is
    exactly the trade a 100 TB dedup run tunes BEFORE paying for a full
    pass (missed-dup rate vs verify-join fan-in).  Pure closed-form
    arithmetic on a parameter-sized grid — no data scan at all; both
    engines evaluate the same pow/round literals.

    Returns (bands, rows_per_band, s, p_candidate), 6dp, ordered
    factorizations × similarities."""
    rows = []
    for b in range(1, n_hashes + 1):
        if n_hashes % b:
            continue
        r = n_hashes // b
        for s in similarities:
            rows.append((b, r, float(s)))
    grid = spark.createDataFrame(
        rows, "bands int, rows_per_band int, s double"
    )
    p = F.lit(1.0) - F.pow(
        F.lit(1.0) - F.pow(F.col("s"), F.col("rows_per_band")),
        F.col("bands"),
    )
    return grid.select(
        "bands",
        "rows_per_band",
        F.round("s", 6).alias("s"),
        F.round(p, 6).alias("p_candidate"),
    )


def sql_lsh_scurve(
    n_hashes: int = 16,
    similarities: tuple = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9),
) -> str:
    """DuckDB replay of ``lsh_scurve`` (same factorization grid, same
    pow arithmetic)."""
    facts = ", ".join(
        f"({b}, {n_hashes // b})"
        for b in range(1, n_hashes + 1)
        if n_hashes % b == 0
    )
    sims = ", ".join(f"({float(s)!r})" for s in similarities)
    return f"""
    WITH factorizations(bands, rows_per_band) AS (VALUES {facts}),
    sims(s) AS (VALUES {sims})
    SELECT CAST(bands AS INTEGER) AS bands,
        CAST(rows_per_band AS INTEGER) AS rows_per_band,
        round(s, 6) AS s,
        round(1.0 - pow(1.0 - pow(s, rows_per_band), bands), 6)
            AS p_candidate
    FROM factorizations CROSS JOIN sims
    """
