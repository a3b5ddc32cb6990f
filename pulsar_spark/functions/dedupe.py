"""Deduplication for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Scale design:
- Exact dedup is a hash aggregate on a fingerprint — one shuffle of one
  row per distinct document.
- MinHash: each shingle gets two base Murmur3 hashes JVM-side;
  permutation i applies the splitmix64 finalizer to
  ``(h1<<32 | h2) + i*golden`` (``_perm_mins_batch`` — a real independent
  permutation family, vectorized in numpy), so the signature is
  ``num_perm`` cheap row-mins over one mixed matrix, not ``num_perm``
  separate string hashes. LSH banding then turns the
  quadratic all-pairs problem into an equi-join on (band_id,
  band_hash): only documents sharing a band bucket are compared, and
  the join keys are uniformly distributed by construction.
- SimHash packs a document into one 64-bit int; near-dup = hamming
  distance via ``bit_count(a ^ b)`` on LSH-prefix-bucketed candidates.
- ``ngram_jaccard_pairs`` is the exact (quadratic) verifier used on
  candidate pairs and in tests as ground truth.

Perf note (measured): a lambda body that references an outer *expression*
(not a bound column) re-evaluates it per array element — O(n^2) per row.
Every helper here therefore materializes intermediate arrays as real
columns before mapping over them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pulsar_spark.durable import recover_swap, rewrite_path, swap_in


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per exact text fingerprint."""
    from pulsar_spark.functions.text import fingerprint

    cols = docs.columns
    return (
        docs.withColumn("_fp", fingerprint(F.col(text_col)))
        .groupBy("_fp")
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("_d"))
        .select("_d.*")
    )


def with_shingles(
    docs: DataFrame, text_col: str = "text", k: int = 3, out_col: str = "shingles"
) -> DataFrame:
    """Add a distinct word-k-gram shingle array column (JVM-side).

    Tokens are materialized as a column first so the k-gram lambda's
    ``element_at`` lookups are O(1) (see module perf note).
    """
    toks = F.col("_toks")
    grams = F.when(
        # under-k-word documents shingle to the EMPTY array: the
        # unguarded sequence would index past the token array, which
        # ANSI element_at turns into a runtime error
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(k)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.withColumn("_toks", F.filter(F.split(F.col(text_col), " "), lambda t: t != ""))
        .withColumn(out_col, F.array_distinct(grams))
        .drop("_toks")
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Column-expression form of shingling (convenience; prefer
    ``with_shingles`` in pipelines — this form re-splits per element)."""
    toks = F.filter(F.split(text, " "), lambda t: t != "")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.array_distinct(grams)


_BAND_MIX = np.int64(-7046029254386353131)  # golden-ratio odd constant, wraps in int64


def _perm_mins_batch(h1_list, h2_list, num_perm: int,
                     chunk_shingles: int = 1024):
    """(n_docs, num_perm) int64 MinHash signatures for a whole Arrow
    batch of per-shingle hash arrays, using a REAL independent
    permutation family, in a handful of numpy sweeps.

    Permutation i applies the splitmix64 finalizer (Steele et al. 2014,
    public domain) to ``base + i * golden`` where ``base`` combines the
    two 32-bit Murmur hashes of a shingle into 64 bits. The finalizer's
    avalanche makes every permutation's argmin an independent uniform
    draw over the shingle set — the property the naive ``h1 + i*h2``
    form LACKS: with 32-bit inputs and i <= 63 that sum never wraps
    int64, so one low-``h2`` shingle dominates the min for every i >= 2
    and the 64-position signature collapses to a single Bernoulli trial
    (measured 3% agreement on docs with true Jaccard 0.88). Agreement
    of THESE signatures is the textbook unbiased Jaccard estimator with
    stderr sqrt(J(1-J)/num_perm).

    The batching is purely mechanical (r12, guide §4.2): a
    per-document loop paid one numpy dispatch per doc per batch (~µs
    each, dominant for short documents), while this concatenates every
    document's shingle hashes once, runs ONE ``(num_perm,
    total_shingles)`` permutation sweep, and takes per-document minima
    with ``np.minimum.reduceat`` over the document offsets. Documents too
    short to shingle keep the all-zeros sentinel row. ``chunk_shingles``
    keeps the sweep matrix (``num_perm x chunk x 8`` bytes — 512 KB at
    the defaults) cache-resident: measured on sf0.1-shaped batches,
    chunk 1024 runs 1.5x the per-doc loop while a 1M-shingle chunk is
    2x SLOWER than it (the 512 MB of temporaries turn the sweep
    memory-bandwidth-bound); a document longer than the chunk still
    processes whole (chunks split only on document boundaries, so
    results are unaffected either way)."""
    n = len(h1_list)
    out = np.zeros((n, num_perm), dtype=np.int64)
    lens = np.fromiter(
        (0 if a is None else len(a) for a in h1_list), dtype=np.int64, count=n
    )
    idx = np.flatnonzero(lens)
    if idx.size == 0:
        return out
    ii = np.arange(num_perm, dtype=np.uint64)[:, None]
    start = 0
    while start < idx.size:
        end, tot = start, 0
        while end < idx.size and (
            tot == 0 or tot + lens[idx[end]] <= chunk_shingles
        ):
            tot += lens[idx[end]]
            end += 1
        sel = idx[start:end]
        a = np.concatenate(
            [np.asarray(h1_list[i], dtype=np.int64) for i in sel]
        ).astype(np.uint64)
        b = np.concatenate(
            [np.asarray(h2_list[i], dtype=np.int64) for i in sel]
        ).astype(np.uint64)
        base = a << np.uint64(32) | (b & np.uint64(0xFFFFFFFF))
        with np.errstate(over="ignore"):
            x = base[None, :] + ii * np.uint64(0x9E3779B97F4A7C15)
            x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            x ^= x >> np.uint64(31)
        seg = lens[sel]
        off = np.zeros(seg.size, dtype=np.int64)
        np.cumsum(seg[:-1], out=off[1:])
        out[sel] = np.minimum.reduceat(x, off, axis=1).T.astype(np.int64)
        start = end
    return out


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    k: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """(id, shingles, signature array<bigint>[num_perm[, band_hashes]]).

    MinHash with a REAL permutation family: two base Murmur3 hashes
    per shingle (computed JVM-side) combine to one 64-bit value;
    permutation i = splitmix64(base + i*golden) (``_perm_mins_batch``),
    signature element = min over shingles. Signature agreement is the
    unbiased Jaccard estimator (the naive ``h1 + i*h2`` combo is NOT:
    see ``_perm_mins_batch``).

    The signature itself is a vectorized Arrow-batched pandas UDF over
    the two hash arrays: one cache-chunked ``(num_perm, n_shingles)``
    numpy sweep with segmented per-document minima (``_perm_mins_batch``
    — r12; formerly one numpy call per document). This is shuffle-free
    (embarrassingly
    parallel, scales linearly with executors) and measured ~6x faster
    than both the explode+groupBy(num_perm mins) and the nested
    higher-order-function formulations — HOF lambdas are interpreted
    per element, while numpy does the num_perm*n_shingles sweep in C.

    With ``bands`` set, the LSH band hashes (``num_perm // bands`` rows
    each, multiply-add folded) come out of the SAME numpy sweep as a
    ``band_hashes`` column — cheaper than re-extracting 64 array
    elements JVM-side, and the banding consumer can skip the signature
    entirely (column pruning drops it from the Arrow transfer).
    """
    from pyspark.sql.types import ArrayType, LongType

    if bands is None:

        @F.pandas_udf(ArrayType(LongType()))
        def _sig(h1: pd.Series, h2: pd.Series) -> pd.Series:
            mat = _perm_mins_batch(h1.to_numpy(), h2.to_numpy(), num_perm)
            return pd.Series(list(mat))

        sig_cols = [_sig("_h1", "_h2").alias("signature")]
    else:
        rpb = num_perm // bands

        @F.pandas_udf("signature array<bigint>, band_hashes array<bigint>")
        def _sig_bands(h1: pd.Series, h2: pd.Series) -> pd.DataFrame:
            # one whole-batch sweep (see _perm_mins_batch), then the
            # band fold vectorized across documents — same
            # multiply-add recurrence as the former per-doc loop,
            # wrapped int64 arithmetic unchanged
            mat = _perm_mins_batch(h1.to_numpy(), h2.to_numpy(), num_perm)
            n = mat.shape[0]
            resh = mat.reshape(n, bands, rpb)
            h = np.zeros((n, bands), dtype=np.int64)
            with np.errstate(over="ignore"):
                for r in range(rpb):
                    h = h * _BAND_MIX + resh[:, :, r]
            return pd.DataFrame(
                {"signature": list(mat), "band_hashes": list(h)}
            )

        sig_cols = [F.col("_sb.signature").alias("signature"), F.col("_sb.band_hashes").alias("band_hashes")]

    # Scale-adaptive fan-out (r11): the shingle build + two hash
    # transforms + the Arrow signature UDF are the most expensive
    # narrow compute in the engine, and a single-file input pins ALL of
    # it to one core (one row group = one scan task). fan_out is a
    # no-op when the input is already well-partitioned; signatures are
    # per-row deterministic, so the repartition cannot change any
    # downstream result.
    from pulsar_spark.sources.loader import fan_out

    base = (
        with_shingles(fan_out(docs.select(id_col, text_col)), text_col, k)
        .select(id_col, "shingles")
        .withColumn("_h1", F.transform("shingles", lambda s: F.hash(s).cast("bigint")))
        .withColumn("_h2", F.transform("shingles", lambda s: F.hash(s, F.lit(1)).cast("bigint")))
    )
    if bands is None:
        return base.withColumn("signature", sig_cols[0]).drop("_h1", "_h2")
    return (
        base.withColumn("_sb", _sig_bands("_h1", "_h2"))
        .select(id_col, "shingles", *sig_cols)
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate pairs via LSH banding, WITHOUT a self-join: explode
    each signature into ``bands`` (band_id, band_hash) keys, group each
    bucket to its member-id list, and emit within-bucket pairs by a
    double explode of that (small — that's the LSH premise) list.
    One aggregation instead of re-executing the signature plan twice.
    Returns distinct (id_a, id_b) with id_a < id_b.

    When the signature frame carries precomputed ``band_hashes`` (from
    ``minhash_signatures(..., bands=N)``) the banding is a posexplode of
    that array and column pruning drops the 64-element signature from
    the Arrow transfer; otherwise band hashes are derived JVM-side from
    the signature column."""
    if "band_hashes" in sigs.columns:
        banded = sigs.select(
            F.col(id_col),
            F.posexplode("band_hashes").alias("band_id", "band_hash"),
        )
    else:
        banded = sigs.select(
            F.col(id_col),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band_id"),
                            F.hash(
                                *[F.col("signature")[b * rows_per_band + r] for r in range(rows_per_band)]
                            ).alias("band_hash"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("band"),
        ).select(id_col, "band.band_id", "band.band_hash")

    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.collect_list(id_col).alias("_ids"))
        .where(F.size("_ids") > 1)
    )
    if max_bucket_size is not None:
        # Mega-bucket guard: a bucket of m members emits m^2/2 pairs —
        # on real corpora (boilerplate, empty docs) one degenerate
        # bucket can dominate the whole job. Above the cap, emit a STAR
        # (every member paired to the bucket's min id) instead of all
        # pairs: linear in m, and connectivity-preserving, so
        # cluster-level dedup (near_dup_clusters /
        # dedup_keep_representatives) is unaffected; only pair-level
        # recall *within* the mega-bucket is reduced. Verification
        # stays exact either way.
        #
        # Single-pass emit: after the first explode, keep every row of a
        # small bucket but only the min-id row of a mega bucket, then
        # explode again — the second explode yields all-pairs for small
        # buckets and exactly the star for big ones. One conditional
        # filter instead of a small/big branch-and-union, which would
        # re-execute the banding + bucket aggregation once per branch.
        all_pairs = (
            buckets.withColumn("_m", F.size("_ids"))
            .withColumn("_min", F.array_min("_ids"))
            .select(F.explode("_ids").alias("id_a"), "_ids", "_m", "_min")
            .where((F.col("_m") <= max_bucket_size) | (F.col("id_a") == F.col("_min")))
            .select("id_a", F.explode("_ids").alias("id_b"))
        )
    else:
        all_pairs = buckets.select(F.explode("_ids").alias("id_a"), "_ids").select(
            "id_a", F.explode("_ids").alias("id_b")
        )
    return (
        all_pairs.where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def minhash_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    k: int = 3,
    bands: int = 16,
    max_bucket_size: int | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified by exact Jaccard
    over shingle sets. Returns (id_a, id_b, jaccard).

    ``max_bucket_size`` enables the mega-bucket star guard (see
    ``minhash_lsh_candidates``) — at corpus scale set it to a few
    hundred so one degenerate boilerplate bucket cannot go quadratic.

    Caching policy: the SIGNATURE pipeline is deliberately not
    persisted (Spark's columnar cache is slow to build for nested
    array columns — measured 3x the cost of recomputing; a 100 TB
    pipeline materializes the signature table to Parquet instead).
    Small candidate-scoped frames ARE persisted — always the pair set,
    and on the re-shingling path also the per-candidate shingle-hash
    table — each consumed by multiple plan branches below. They are
    lazy and bounded by the candidate set, not the corpus; they stay
    registered until the session drops them (MEMORY_AND_DISK,
    LRU-evicted under pressure) — call ``spark.catalog.clearCache()``
    between corpus slices in a long-lived driver if that lifetime
    matters.

    ``sigs`` optionally supplies an already-computed
    ``minhash_signatures(docs, ...)`` frame (e.g. one materialized to
    parquet by ``incremental_near_dedup``) so callers that need the
    signatures more than once pay the Arrow pipeline exactly once.
    If that frame additionally carries a ``shingle_hashes`` column
    (``transform(shingles, xxhash64)`` — the exact verify currency),
    the verify stage reads candidate shingle hashes straight off it
    instead of re-scanning and re-shingling the documents (r12), and
    the shingle-table persist is skipped entirely (re-evaluating a
    materialized frame costs a block read).

    The returned frame exposes its internal persists as ``_psk_pins``
    (a Python-side attribute, consumed immediately by
    ``incremental_near_dedup`` to unpersist them once the pair set has
    been fully drained — same contract as ``_psk_local``).
    """
    rows_per_band = num_perm // bands
    if sigs is None:
        sigs = minhash_signatures(docs, text_col, id_col, num_perm, k, bands=bands)
    # Cache the candidate pairs (persist, not localCheckpoint: persist
    # stays LAZY — building the frame costs nothing until an action —
    # and keeps lineage, so a lost executor recomputes instead of
    # failing the job; the frame is tiny and FLAT, so the known
    # nested-array cache slowness does not apply). The pairs are
    # consumed three times below; without the cache each consumer
    # re-runs the whole signature pipeline. Then shingle ONLY documents
    # that appear in some candidate pair: at corpus scale the candidate
    # set is a sliver of the corpus, so the exact-Jaccard verify stage
    # stops paying for shingling everything. Measured wall-neutral at
    # sf0.1 (5k docs: the saved shingling ~= the cache materialization);
    # the win grows with corpus/candidate ratio, which is what 100 TB has.
    cand = minhash_lsh_candidates(
        sigs, id_col, bands, rows_per_band, max_bucket_size
    ).persist()
    # Verify over 64-bit shingle HASHES, not shingle strings:
    # array_intersect on fixed-width bigints avoids per-element string
    # hashing/comparison, and the distinct string set maps 1:1 to a
    # distinct hash set (64-bit xxhash collisions are negligible at any
    # document length), so the Jaccard value is unchanged.
    # Persisted because the pair join references it TWICE (a-side and
    # b-side): unpersisted, each branch re-runs scan + semi-join +
    # shingling — measured 2.5s -> 0.5s on the verify stage at sf0.1
    # (17.8k candidate pairs). The cache is per-candidate-doc only
    # (bounded by the LSH candidate set, not the corpus) and flat
    # (id + array<bigint>), so the nested-cache slowness note above
    # does not apply.
    # (r11: a fan_out of docs_c before this shingle pass was tried and
    # REJECTED by interleaved A/B — 1.87-2.47 s full-query min without
    # vs 1.97-2.66 s with: the candidate frame is consumed once into a
    # persist, so the extra exchange buys nothing the cache build's own
    # parallelism doesn't already provide.)
    if "shingle_hashes" in sigs.columns:
        # r12: a caller-supplied sigs frame carrying precomputed
        # shingle hashes (incremental_near_dedup's localCheckpoint pin)
        # IS the verify currency — read it straight off the pin instead
        # of re-scanning + re-shingling + re-hashing the candidate
        # docs. Value-identical by construction: shingle_hashes is
        # transform(shingles, xxhash64) over the same with_shingles
        # output this branch's else-arm would rebuild. NO persist and
        # NO candidate-id semi-join here: both existed to bound how
        # many documents the verify re-shingled, but a checkpoint scan
        # re-evaluates for the cost of reading local RDD blocks, so the
        # two pair-join branches just scan the pin twice — zero
        # shuffles, no cache build, and the candidate-id
        # union+distinct's whole exchange disappears with its only
        # consumer.
        sh = sigs.select(F.col(id_col), F.col("shingle_hashes").alias("shingles"))
        pins = [cand]
    else:
        # The .distinct() here was A/B-tested for removal in r11
        # (left_semi ignores duplicate build keys, same argument that
        # removed the probe drop-set distinct) and KEPT: worktree A/B
        # (3 rounds, sentinels 90-149 both sides) read x2 1.07x WORSE
        # without it — the dedup shrinks the semi-join build side by
        # ~7x (2 ids per pair vs ~distinct docs), which outweighs its
        # exchange here.
        # explode, not union(two projections) (r12): both arms of the
        # union scanned the cand cache separately; the explode emits
        # the same id multiset in ONE pass over it, feeding the same
        # distinct. Interleaved A/B (5 rounds, full x2): 14 -> 13 jobs,
        # min 2.165 -> 2.024 s, explode faster in every round.
        cand_ids = (
            cand.select(
                F.explode(F.array("id_a", "id_b")).alias(id_col)
            ).distinct()
        )
        docs_c = docs.join(cand_ids, on=id_col, how="left_semi")
        sh = with_shingles(docs_c, text_col, k).select(
            F.col(id_col),
            F.transform("shingles", lambda s: F.xxhash64(s)).alias("shingles"),
        ).persist()
        pins = [cand, sh]
    pairs = (
        cand.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("shingles", "shingles_a"), on="id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("shingles", "shingles_b"), on="id_b")
    )
    # Exact size-ratio prefilter: J = |A∩B|/|A∪B| <= min(|A|,|B|)/max(|A|,|B|),
    # so any pair whose smaller shingle set is under threshold*larger can
    # never reach the threshold — drop it before paying for the intersect.
    # No false dismissals (the bound is exact), big win when LSH banding
    # is tuned loose (low threshold => low-precision candidate set).
    sa, sb = F.size("shingles_a"), F.size("shingles_b")
    pairs = pairs.where(F.least(sa, sb) >= F.lit(threshold) * F.greatest(sa, sb))
    inter = F.size(F.array_intersect("shingles_a", "shingles_b"))
    union = F.size("shingles_a") + F.size("shingles_b") - inter
    out = (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # Expose the internal persists so a consumer that fully drains the
    # pair set in one action (incremental_near_dedup's bounded-batch
    # collect) can unpersist them immediately instead of leaving them
    # to session-lifetime LRU (r12; see docstring).
    out._psk_pins = pins
    return out


def with_simhash(
    docs: DataFrame, text_col: str = "text", out_col: str = "simhash", bits: int = 64
) -> DataFrame:
    """Add a 64-bit SimHash column: bit b of the result is set iff more
    token-hashes have bit b set than not. Token hashes are materialized
    once, then the 64 bit-counts map over the bound column."""

    def bit_test(m: int):
        return lambda h: h.bitwiseAND(F.lit(m)) != 0

    hashes = F.col("_th")
    n = F.size(hashes)
    bit_exprs = []
    for b in range(bits):
        # b == 63 is the sign bit, whose int64 mask is negative.
        mask = (1 << b) if b < 63 else -(1 << 63)
        ones = F.size(F.filter(hashes, bit_test(mask)))
        bit_exprs.append(
            F.when(ones * 2 >= n, F.lit(mask).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        )
    out = bit_exprs[0]
    for e in bit_exprs[1:]:
        out = out.bitwiseOR(e)
    return (
        docs.withColumn(
            "_th",
            F.transform(
                F.filter(F.split(F.col(text_col), " "), lambda t: t != ""),
                lambda t: F.xxhash64(t),
            ),
        )
        .withColumn(out_col, out)
        .drop("_th")
    )


def simhash(text: Column, bits: int = 64) -> Column:
    """Column-expression SimHash (convenience for literals/tests;
    pipelines should use ``with_simhash`` — this form re-hashes the
    token array once per bit)."""
    return _simhash_expr(text, bits)


def _simhash_expr(text: Column, bits: int) -> Column:
    def bit_test(m: int):
        return lambda h: h.bitwiseAND(F.lit(m)) != 0

    toks = F.filter(F.split(text, " "), lambda t: t != "")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(hashes)
    out = None
    for b in range(bits):
        mask = (1 << b) if b < 63 else -(1 << 63)
        ones = F.size(F.filter(hashes, bit_test(mask)))
        e = F.when(ones * 2 >= n, F.lit(mask).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        out = e if out is None else out.bitwiseOR(e)
    return out


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dups by SimHash: candidates share a ``prefix_bits`` bucket
    (cheap LSH on the high bits), verified by ``bit_count(xor) <=
    max_hamming``. Returns (id_a, id_b, hamming).

    ``max_bucket_size`` enables the same mega-bucket star guard as the
    MinHash path: buckets above the cap pair members to the bucket-min
    id only (linear, connectivity-preserving for identical docs)
    instead of all-pairs."""
    hashed = with_simhash(docs, text_col).select(id_col, "simhash").withColumn(
        "bucket", F.shiftrightunsigned("simhash", 64 - prefix_bits)
    )
    if max_bucket_size is None:
        a, b = hashed.alias("a"), hashed.alias("b")
        return (
            a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .withColumn("hamming", F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))))
            .where(F.col("hamming") <= max_hamming)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                "hamming",
            )
        )

    member = F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("h"))
    buckets = (
        hashed.groupBy("bucket")
        .agg(F.collect_list(member).alias("_ms"))
        .where(F.size("_ms") > 1)
    )
    small_pairs = (
        buckets.where(F.size("_ms") <= max_bucket_size)
        .select(F.explode("_ms").alias("a"), "_ms")
        .select("a", F.explode("_ms").alias("b"))
    )
    star_pairs = buckets.where(F.size("_ms") > max_bucket_size).select(
        F.array_min("_ms").alias("a"), F.explode("_ms").alias("b")
    )
    return (
        small_pairs.union(star_pairs)
        .where(F.col("a.id") < F.col("b.id"))
        .withColumn("hamming", F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))))
        .where(F.col("hamming") <= max_hamming)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard over ALL pairs — the quadratic ground truth
    (use only on bounded inputs; LSH variants are the scale path).
    Returns (id_a, id_b, jaccard >= threshold)."""
    sh = with_shingles(docs, text_col, k).select(F.col(id_col), F.col("shingles").alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect("a.sh", "b.sh"))
    union = F.size("a.sh") + F.size("b.sh") - inter
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .withColumn("jaccard", F.round(inter / union, 6))
        .where(F.col("jaccard") >= threshold)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            "jaccard",
        )
    )

def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_union_find_max_edges: int = 500_000,
    prefer_driver: bool = False,
) -> DataFrame:
    """Connected components over a near-duplicate pair list — the
    clustering step that turns pairwise matches into keep-one-per-group
    dedup decisions. Returns (id, cluster_id, cluster_size) for every
    id that appears in a pair; cluster_id is the smallest member id
    (so the canonical "representative" is ``id == cluster_id``).

    Two execution paths behind one result contract, chosen by the
    (checkpointed, so already-paid-for) edge count:

    - **Bounded graphs** (<= ``driver_union_find_max_edges`` symmetric
      edges, ~16 MB of id pairs): driver-side union-find. A
      micro-batch's dup graph — the ``incremental_near_dedup`` hot
      path — is thousands of edges, and the distributed loop's cost
      there is ALL fixed overhead: 2 jobs + an eager checkpoint per
      round, ~1.7 s for a 5k-doc batch that union-find resolves in
      milliseconds. The collect is bounded by the threshold, not the
      corpus.
    - **Corpus-scale graphs**: iterative min-label propagation
      (hash-min) with a pointer-jumping step (label <-
      min(label, label(label))) each round, so convergence is
      O(log diameter) — near-dup clusters are shallow (hub + spokes)
      and resolve in 2-3 rounds, and even a pathological chain
      component converges within ``max_iter``. Each round is two
      broadcast-able joins + one partial-aggregated groupBy,
      ``localCheckpoint``-ed to truncate lineage (without it the plan
      doubles every iteration and Catalyst analysis, not the data,
      becomes the bottleneck at scale). Driver-side work is one scalar
      ``count`` per round — no row data ever collects on this path.

    ``prefer_driver`` (r12) is for callers that KNOW their pair graph
    is micro-batch-bounded (``incremental_near_dedup``'s per-batch hot
    path): the path decision collects the RAW pair rows directly —
    union-find is direction-insensitive, so the symmetrized edge list
    (and its localCheckpoint materialization job, plus the pinned RDD
    blocks it leaves behind) is never built on the fast path. The
    threshold compares against ``driver_union_find_max_edges // 2`` raw
    pairs, i.e. exactly the graphs the default path would have taken to
    the driver (sym has two rows per pair), so both modes route every
    graph identically. The trade-off, and why it is not the default: a
    graph that REJECTS the fast path falls through to the distributed
    loop, which then builds the sym checkpoint from scratch —
    re-executing the caller's pair pipeline a second time. Bounded
    micro-batches essentially never reject; corpus-scale callers
    (``dedup_keep_representatives``) keep the default
    materialize-once-then-decide shape.
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    if prefer_driver:
        max_pairs = driver_union_find_max_edges // 2
        head = edges.limit(max_pairs + 1).collect()
        if len(head) <= max_pairs:
            out = _union_find_clusters(
                pairs.sparkSession, head, edges.schema["src"].dataType
            )
            out._psk_local = True
            return out
    # localCheckpoint the symmetrized edge list BEFORE the loop: it is
    # joined in EVERY propagation round, and without the checkpoint each
    # round re-executed the caller's whole pair pipeline (for MinHash
    # callers the candidate/shingle inputs are persisted, so the re-paid
    # part is the pair join + exact array_intersect verify: ~0.5 s total
    # on the sf0.1 adversarial probe, and the full unpersisted pipeline
    # for any caller that hands in a raw pair frame). Bounded by the
    # verified pair set, same storage tier the loop's label checkpoints
    # already use.
    # Symmetrize by EXPLODING both directions out of each pair row
    # (r11), not union(edges, reversed): the union's two branches each
    # carried a full copy of the caller's pair subtree, so the
    # checkpoint job executed the (persist-backed) pair join + verify
    # TWICE; the explode evaluates it once and emits both directions
    # per row, a narrow op. The former .distinct() is dropped with it:
    # both downstream consumers are multiplicity-insensitive (driver
    # union-find is idempotent per edge; the propagation loop's
    # neighbor-min is a min over a set that duplicate rows cannot
    # change), every in-repo pair producer is already distinct with
    # id_a < id_b (so the explode output has no duplicates and no
    # self-loops to remove anyway), and the distinct's exchange was a
    # whole extra shuffle stage in the checkpoint job. A caller handing
    # in duplicate pairs only inflates the fast-path edge count toward
    # the threshold — a conservative path choice, never a wrong result.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("_e")
        )
        .select("_e.src", "_e.dst")
        .localCheckpoint()
    )
    # ONE job decides the path AND feeds the fast path (r11): a
    # limit(max+1) collect over the checkpoint replaces the former
    # count-then-collect pair — on the micro-batch hot path that was a
    # whole extra job of pure fixed cost. The limit bounds the driver
    # transfer exactly like the threshold bounded the old collect; at
    # max+1 rows the fast path is rejected without pulling the rest.
    # (A prefer_driver caller already counted > max//2 raw pairs, so the
    # sym row count is known to exceed the threshold — skip the probe.)
    if not prefer_driver:
        head = sym.limit(driver_union_find_max_edges + 1).collect()
        if len(head) <= driver_union_find_max_edges:
            out = _union_find_clusters(
                pairs.sparkSession, head, sym.schema["src"].dataType
            )
            # Mark the result as driver-local (a LocalRelation):
            # consumers like incremental_near_dedup can then skip their
            # own pinning job — re-evaluating a local relation is free
            # (r11).
            out._psk_local = True
            return out
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["id"])
            .select(F.col("src").alias("id"), "label")
        )
        hop = (
            labels.select("id", "label")
            .union(neighbor_min)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            # checkpoint HERE, not after the pointer jump: the jump
            # self-joins hop, so an unmaterialized hop would run the
            # whole sym-join + aggregate twice per round; the jump's
            # output is then a cheap two-sided join over this
            # checkpoint, fine to re-evaluate for the changed-count and
            # the next round's neighbor_min
            .localCheckpoint()
        )
        # pointer jump (label <- min(label, label(label))): pure
        # neighbor-min propagates ONE hop per round, so convergence was
        # diameter-bounded and a chain-shaped component longer than
        # max_iter silently kept split labels (caught by the union-find
        # equivalence test on a random sparse graph). The label-of-label
        # join doubles the reach each round — 25 iterations now cover
        # diameter 2^25 — at the cost of one extra broadcast-able join
        # per round. A label always names a vertex, so the left join +
        # coalesce only guards the (impossible) miss defensively.
        lab2 = hop.select(
            F.col("id").alias("_pid"), F.col("label").alias("_plabel")
        )
        new_labels = (
            hop.join(lab2, hop["label"] == lab2["_pid"], "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("_plabel"), F.col("label"))
                ).alias("label"),
            )
        )
        changed = (
            new_labels.withColumnRenamed("label", "new_label")
            .join(labels, "id")
            .where(F.col("new_label") != F.col("label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        labels.join(F.broadcast(sizes), on="label")
        .select(F.col("id"), F.col("label").alias("cluster_id"), "cluster_size")
    )


def _union_find_clusters(spark, sym_rows: list, id_type) -> DataFrame:
    """Driver union-find over a BOUNDED edge list (the
    ``near_dup_clusters`` fast path), taking the ALREADY-COLLECTED
    rows — the caller's path-decision limit-collect doubles as the
    edge transfer, so the fast path costs one job, not two (r11).
    Each row is one undirected union, so raw pairs (the prefer_driver
    path) and the symmetrized list (two rows per pair) produce the
    same components.
    Path-halving + union-by-smaller-root, so the root of every
    component is directly its smallest member id — the same canonical
    labeling the distributed path converges to. Result ships back as
    one Arrow-backed frame."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in sym_rows:
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            # union by SMALLER root id: the final root IS the min member
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    roots = {x: find(x) for x in parent}
    sizes: dict = {}
    for r in roots.values():
        sizes[r] = sizes.get(r, 0) + 1
    from pyspark.sql.types import LongType, StructField, StructType
    schema = StructType(
        [
            StructField("id", id_type),
            StructField("cluster_id", id_type),
            StructField("cluster_size", LongType()),
        ]
    )
    pdf = pd.DataFrame(
        {
            "id": list(roots.keys()),
            "cluster_id": list(roots.values()),
            "cluster_size": [sizes[r] for r in roots.values()],
        }
    )
    return spark.createDataFrame(pdf, schema=schema)


def dedup_keep_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Corpus-level dedup: drop every document that belongs to a
    near-dup cluster except its smallest-id representative. Documents
    in no pair survive untouched.

    The broadcast-or-shuffle decision for the loser anti-join is left
    ENTIRELY to AQE (r11): the former explicit ``losers.count()``
    threshold check was a whole extra job over the cluster chain, and
    AQE re-selects the join strategy from the RUNTIME size of the
    build side in both directions (broadcasts a small loser set,
    demotes to a shuffled join when a near-dup-heavy corpus makes it
    O(corpus)) — exactly what the count guarded against, without the
    job. Interleaved A/B: 2.63 s with the count+hint vs 2.39 s AQE.
    """
    clusters = near_dup_clusters(pairs, id_a, id_b)
    losers = clusters.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, on=id_col, how="left_anti")


def _salted_distinct_doc_count(
    df, key_col: str, id_col: str, n_salts: int, out_col: str
):
    """Exact distinct-doc count per key under Zipfian key skew: each doc
    lands in exactly ONE salt bucket (pmod(hash(id))), so summing the
    per-salt distinct counts is exact while the reduce fan-in per hot
    key drops by n_salts. The ONE implementation of this
    exactness-critical pattern — shared by dup_span_fraction,
    remove_duplicated_chunks and remove_duplicated_spans so the salt
    hashing can never diverge between them."""
    per_salt = df.groupBy(
        key_col, F.pmod(F.hash(id_col), F.lit(n_salts)).alias("_salt")
    ).agg(F.count_distinct(id_col).alias("_nd_salt"))
    return per_salt.groupBy(key_col).agg(F.sum("_nd_salt").alias(out_col))


def dup_span_fraction(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_salts: int = 16,
) -> DataFrame:
    """Per-document duplicated-span fraction: the share of a doc's word
    n-grams that also occur in at least one OTHER document — the
    boilerplate/duplication signal pretraining pipelines threshold on.

    Returns (id, n_grams, n_dup, dup_frac).

    Scale shape: the gram table is ~|tokens| rows, and natural-language
    gram frequencies are Zipfian — a handful of stop-grams can carry a
    huge share of rows. Two skew defenses, both exact:

    - the distinct-doc count per gram aggregates FIRST on
      (gram, hash(doc_id) % n_salts) — each doc lands in exactly one
      salt, so summing per-salt distinct counts is exact while the
      reduce fan-in per key drops by n_salts;
    - the gram->nd join back is an equi-join on a unique build side,
      so AQE's skew-join split handles hot probe keys.

    Grams travel as 64-bit xxhash values, not strings: the gram table
    is the largest shuffle in the pipeline (twice — the distinct-doc
    agg and the join back), and an 8-byte key cuts those shuffles ~4x
    vs ~40-byte gram strings with identical results (a 64-bit collision
    across even a trillion distinct grams is ~1e-5 territory; any
    collision only perturbs one gram's doc count).
    """
    d = docs.select(id_col, F.split(text_col, " ").alias("words")).where(
        F.size("words") >= n
    )
    grams = d.select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(1, size(words) - {n - 1}),"
                f" i -> xxhash64(concat_ws(' ', slice(words, i, {n}))))"
            )
        ).alias("gram"),
    )
    gd = _salted_distinct_doc_count(grams, "gram", id_col, n_salts, "nd")
    dup = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
    return (
        grams.join(gd, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            dup.cast("bigint").alias("n_dup"),
            F.round(dup.cast("double") / F.count("*"), 6).alias("dup_frac"),
        )
    )


def _word_gram_hashes(
    df: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, gram) rows of 64-bit word n-gram hashes — not strings: a
    fixed-width join key and a small broadcast set (same collision
    argument as dup_span_fraction — negligible, and a collision can
    only flag one extra gram position). Shared by the exact and the
    bloom-prefiltered contamination paths."""
    d = df.select(id_col, F.split(text_col, " ").alias("words"))
    return d.where(F.size("words") >= n).select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(1, size(words) - {n - 1}),"
                f" i -> xxhash64(concat_ws(' ', slice(words, i, {n}))))"
            )
        ).alias("gram"),
    )


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: per corpus document, how many of its
    word n-gram positions also occur in the BENCHMARK set (eval-set
    leakage check before pretraining). Returns (id, n_grams, n_hits,
    contaminated).

    Scale shape: the benchmark gram set is tiny relative to the corpus
    (an eval suite, not a second corpus) — distinct it and broadcast.
    The corpus side is a narrow explode + broadcast left join, then ONE
    aggregation shuffle keyed by doc (count + conditional sum fused in
    the same pass — no second groupBy, no agg-vs-agg join). Docs
    shorter than n grams report 0.
    """
    bench = (
        _word_gram_hashes(benchmark, n, text_col, id_col)
        .select("gram")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    cg = _word_gram_hashes(corpus, n, text_col, id_col)
    return (
        cg.join(F.broadcast(bench), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("bigint").alias("n_hits"),
        )
        .withColumn("contaminated", F.col("n_hits") > 0)
    )


def _bloom_membership_expr(gram_col, words: list[int], m_bits: int, k: int):
    """Bloom membership test compiled into the plan: k double-hashed
    bit positions over a literal array of 64-bit words. Hash halves
    are masked to 31 bits so ``h1 + i*h2`` can never overflow int64
    (ANSI mode throws on overflow, it does not wrap)."""
    lit_words = F.array(*[F.lit(int(w)) for w in words])
    h1 = gram_col.bitwiseAND(F.lit(0x7FFFFFFF))
    h2 = F.shiftrightunsigned(gram_col, 32).bitwiseAND(F.lit(0x7FFFFFFF))
    cond = None
    for i in range(k):
        pos = F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits))
        word = F.element_at(lit_words, (pos / 64).cast("int") + 1)
        bit = F.getbit(word, F.pmod(pos, F.lit(64))) == 1
        cond = bit if cond is None else (cond & bit)
    return cond


def contamination_check_bloom(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """The SCALE twin of :func:`contamination_check` for benchmark sets
    too large to broadcast as a join table: results are IDENTICAL (the
    Bloom filter only PRE-filters; every surviving gram is confirmed by
    the exact join), but the exact join's probe side shrinks from
    |corpus grams| to |true hits + false positives|.

    The filter is built DISTRIBUTED, with no user-facing collect of
    data rows: executors compute each benchmark gram's k double-hashed
    bit positions, one distinct bounded by ``m_bits`` (the filter size,
    never the corpus) yields the set bits, and the driver packs them
    into ``m_bits/64`` literal longs — the same bounded-model pattern
    as k-means centroids. The probe is pure codegen arithmetic
    (element_at + shifts on the literal array), no UDF.

    False-positive rate ~ (1 - e^(-k*n_grams/m))^k; with the defaults
    and an eval-suite-sized benchmark it stays under ~2%, and a false
    positive costs one extra row through the exact join — never a
    wrong answer. Output schema == contamination_check:
    ``(id, n_grams, n_hits, contaminated)``.

    The confirming join deliberately does NOT force a broadcast (the
    whole point is a benchmark too big for one): AQE picks the
    strategy, and because the probe side is bloom-shrunk to hits + FPs
    a shuffle hash join is cheap on both sides. The benchmark gram set
    is persisted so the positions pass and the confirm join share one
    gram-hashing scan; it stays cached until Spark evicts it (the
    returned frame still references it).
    """
    bench = (
        _word_gram_hashes(benchmark, n, text_col, id_col)
        .select("gram")
        .distinct()
        .persist()
    )
    h1 = F.col("gram").bitwiseAND(F.lit(0x7FFFFFFF))
    h2 = F.shiftrightunsigned(F.col("gram"), 32).bitwiseAND(F.lit(0x7FFFFFFF))
    positions = bench.select(
        F.explode(
            F.array(*[F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits)) for i in range(k)])
        ).alias("pos")
    ).distinct()
    words = [0] * ((m_bits + 63) // 64)
    for r in positions.collect():  # bounded by m_bits, not the benchmark
        p = int(r.pos)
        words[p // 64] |= 1 << (p % 64)
    words = [w - (1 << 64) if w >= 1 << 63 else w for w in words]

    # n_grams per doc is a narrow projection (no explode survives the
    # prefilter, so it can't be counted downstream like the exact path)
    wcount = corpus.select(
        id_col,
        F.greatest(
            F.size(F.split(text_col, " ")) - (n - 1), F.lit(0)
        ).cast("bigint").alias("n_grams"),
    ).where(F.col("n_grams") > 0)

    cg = _word_gram_hashes(corpus, n, text_col, id_col)
    pre = cg.where(_bloom_membership_expr(F.col("gram"), words, m_bits, k))
    confirmed = (
        pre.join(bench, "gram")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    return (
        wcount.join(confirmed, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def remove_duplicated_chunks(
    docs: DataFrame,
    chunk_words: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_salts: int = 16,
) -> DataFrame:
    """Cross-document chunk deduplication (the C4 / RefinedWeb
    line-dedup family): split each document into consecutive
    ``chunk_words``-word chunks, drop every chunk whose text occurs in
    at least ``min_docs`` DISTINCT documents (boilerplate), and
    reassemble the survivors in original order.

    Returns (id, text, n_chunks, n_removed) — text is '' when every
    chunk was boilerplate (the caller decides whether to drop empties).

    Scale shape mirrors ``dup_span_fraction``: chunks travel as 64-bit
    hashes; the distinct-doc count aggregates per (chunk, salt) first
    so Zipfian boilerplate chunks don't funnel into one reducer; the
    count joins back on a unique 8-byte key (AQE skew-split handles hot
    probe keys); reassembly is one per-doc aggregation of (pos, chunk)
    structs — no global sort anywhere.
    """
    k = chunk_words
    d = docs.select(
        id_col,
        F.col(text_col),
        F.filter(F.split(F.col(text_col), " "), lambda t: t != "").alias("_w"),
    )
    n_chunks_expr = F.ceil(F.size("_w") / k).cast("int")
    chunks = d.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_chunks_expr, F.lit(1))),
                lambda i: F.array_join(F.slice("_w", (i - 1) * k + 1, k), " "),
            )
        ).alias("pos", "chunk"),
    ).where(F.col("chunk") != "")
    hashed = chunks.select(id_col, "pos", "chunk", F.xxhash64("chunk").alias("_ch"))
    nd = _salted_distinct_doc_count(hashed, "_ch", id_col, n_salts, "_nd")
    # ONE per-doc aggregate for both the rebuild and the chunk totals
    # (r11): `nd` carries every distinct chunk, so the inner join
    # preserves all chunk rows and count(*) is the per-doc total; the
    # conditional struct makes collect_list (which skips NULLs) gather
    # only the surviving chunks. The former shape aggregated `hashed`
    # a second time just for the totals — a whole extra explode +
    # groupBy subtree with identical output.
    keep = F.col("_nd") < min_docs
    rebuilt = (
        hashed.join(nd, "_ch")
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.when(keep, F.struct("pos", "chunk")))
                    ),
                    lambda s: s.getField("chunk"),
                ),
            ).alias("_text"),
            F.count("*").alias("n_chunks"),
            F.count(F.when(keep, F.lit(1))).alias("_n_kept"),
        )
    )
    return (
        docs.select(id_col)
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_text"), F.lit("")).alias(text_col),
            F.coalesce(F.col("n_chunks"), F.lit(0)).cast("bigint").alias("n_chunks"),
            (
                F.coalesce(F.col("n_chunks"), F.lit(0))
                - F.coalesce(F.col("_n_kept"), F.lit(0))
            ).cast("bigint").alias("n_removed"),
        )
    )


#: Row layout of each dedup store. The engine writes these columns and
#: no others, so every scan declares them instead of inferring them
#: from a footer (a one-task Spark job per read).
_EXACT_STORE = "_fp STRING"
_SIG_STORE = "_fp BIGINT, signature ARRAY<BIGINT>"
_BAND_STORE = "_fp BIGINT, band_idx INT, band_hash BIGINT"


def _store_paths(spark, store_path: str, epoch: int | None) -> list[str]:
    """The data locations of one store directory that a probe (or, with
    ``epoch=None``, a compaction) reads.

    Without ``epoch``: the loose root part files of flat appends plus
    every ``batch_id=N`` epoch dir (compaction folds history into an
    epoch dir, so a non-epoch probe must still see it). With ``epoch``:
    every epoch dir except the epoch's own, so a replayed epoch never
    probes its own commit. Listed through the Hadoop FileSystem API so
    any scheme the cluster can read (file://, hdfs://, s3a://, ...)
    works."""
    path = spark._jvm.org.apache.hadoop.fs.Path(store_path)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    own = None if epoch is None else f"batch_id={int(epoch)}"
    files, dirs = [], []
    for f in fs.listStatus(path):
        name = f.getPath().getName()
        if f.isDirectory():
            if name.startswith("batch_id=") and name != own:
                dirs.append(f.getPath().toString())
        elif epoch is None and name.startswith("part-"):
            files.append(f.getPath().toString())
    return files + dirs


def _scan_store(spark, paths: list[str], schema: str) -> DataFrame:
    """Scan store locations (loose part files and epoch dirs) with the
    store's declared schema. ``recursiveFileLookup`` reads every part
    file under an epoch dir whatever its inner layout, so band epochs
    that older engine versions hive-partitioned by band-hash prefix
    scan (and compact) next to flat epochs and loose files; a
    partition-discovering read of that mix raises
    CONFLICTING_DIRECTORY_STRUCTURES. No partition column is
    discovered, so none needs declaring."""
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(*paths)
    )


def _commit_store(rows: DataFrame, store_path: str, epoch: int | None) -> None:
    """Commit rows to a store directory: without ``epoch`` an append of
    loose part files (duplicate rows are harmless to the anti-join and
    the band join); with it an OVERWRITE of the epoch's own
    ``batch_id=N`` dir, so a replayed epoch replaces its commit."""
    if epoch is None:
        rows.write.mode("append").parquet(store_path)
    else:
        rows.write.mode("overwrite").parquet(f"{store_path}/batch_id={int(epoch)}")


def incremental_exact_dedup(
    new_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    update_store: bool = True,
    epoch: int | None = None,
) -> DataFrame:
    """Incremental corpus dedup: drop documents whose exact text
    fingerprint was EVER seen — across all previous batches — and
    (optionally) record the survivors' fingerprints.

    The shape a rolling crawl pipeline needs (today's snapshot vs the
    all-time seen set, not just within-batch): the store holds ONLY
    md5 fingerprints, so the check is one hash anti-join per batch and
    no historical text is ever re-read. Within-batch duplicates also
    collapse (min-id survivor, same rule as ``exact_dedup``; the
    fingerprint is computed once and reused for the collapse, the
    anti-join and the store append). NULL text fingerprints as the
    empty string, so null-text documents deduplicate like any other
    instead of slipping through the join on NULL keys.

    The store is read as an explicit SNAPSHOT of its current part
    files, so the append can never invalidate the returned frame's
    own plan — no checkpoint, nothing materialized beyond the
    fingerprint column.

    Retry semantics: with ``update_store=True`` the fingerprints
    commit when THIS call runs, so a crash after it but before the
    caller persists the survivors means a retry filters the batch out
    (at-most-once). For exactly-once, run with
    ``update_store=False``, persist the survivors downstream, then
    ``commit_fingerprints`` — replays are then harmless because
    duplicate store rows do not change anti-join semantics.

    ``epoch`` turns on the fully-idempotent streaming form
    (foreachBatch): fingerprints live in per-epoch ``batch_id=N``
    subdirectories and the anti-join EXCLUDES the current epoch's own
    directory, so a replayed epoch — even one whose previous attempt
    committed fingerprints before crashing — reproduces IDENTICAL
    survivors and overwrites its own commit, instead of anti-joining
    against its own fingerprints and silently emptying its output.
    Pair with ``commit_fingerprints(..., epoch=N)``.
    """
    spark = new_docs.sparkSession
    # a compaction may have died between its two swap renames — recover
    # BEFORE probing, or the store reads as empty and every previously
    # seen duplicate silently re-admits
    recover_swap(spark, store_path)
    cols = new_docs.columns
    fp = _exact_fingerprint(text_col)
    collapsed = (
        new_docs.withColumn("_fp", fp)
        .groupBy("_fp")
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("_d"))
        .select("_fp", "_d.*")
    )
    paths = _store_paths(spark, store_path, epoch)
    if paths:
        collapsed = collapsed.join(
            _scan_store(spark, paths, _EXACT_STORE), on="_fp", how="left_anti"
        )
    if update_store:
        _commit_store(collapsed.select("_fp"), store_path, epoch)
    return collapsed.drop("_fp")


def _exact_fingerprint(text_col: str):
    """The ONE exact-dedup fingerprint expression (md5 over trimmed,
    lowercased text; NULL as '') — shared by the dedup anti-join and
    the store commit so the two can never drift."""
    return F.md5(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))))


def commit_fingerprints(
    survivors: DataFrame,
    store_path: str,
    text_col: str = "text",
    epoch: int | None = None,
) -> None:
    """Second phase of exactly-once incremental dedup: record the
    already-persisted survivors' fingerprints (call AFTER the
    downstream sink write succeeds). With ``epoch`` the commit
    OVERWRITES the epoch's own ``batch_id=N`` subdirectory (idempotent
    replays); without it the flat store gets an append (duplicate rows
    are harmless for anti-join semantics)."""
    # never write into a store whose compaction swap is mid-flight: the
    # write would recreate the root next to the __old dir and the next
    # recovery would then discard the real history
    recover_swap(survivors.sparkSession, store_path)
    _commit_store(
        survivors.select(_exact_fingerprint(text_col).alias("_fp")), store_path, epoch
    )


def _near_store_sigs(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    k: int,
    bands: int,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(id, signature, band_hashes) for the incremental near-dup store
    — ONE deterministic signature expression shared by the dedup pass
    and the store commit so the two can never drift (the same contract
    ``_exact_fingerprint`` gives the exact-dedup pair).

    Documents too short to shingle (< k words) carry the all-zeros
    sentinel signature; agreement between two sentinels is 64/64
    regardless of content, so they are EXCLUDED here — from the probe
    (they always survive the history check) and from the store (they
    never absorb later short docs). Exact incremental dedup is the
    short-document dedup path.

    ``sigs`` optionally supplies the precomputed signature frame (same
    contract as ``minhash_near_duplicates``)."""
    if sigs is None:
        sigs = minhash_signatures(docs, text_col, id_col, num_perm, k, bands=bands)
    sigs = sigs.select(id_col, "signature", "band_hashes")
    return sigs.where(
        (F.array_min("signature") != 0) | (F.array_max("signature") != 0)
    )


def incremental_near_dedup(
    new_docs: DataFrame,
    store_path: str,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    k: int = 3,
    bands: int = 16,
    max_bucket_size: int | None = 512,
    update_store: bool = True,
    epoch: int | None = None,
) -> DataFrame:
    """Incremental NEAR-duplicate dedup: drop documents whose MinHash
    signature near-matches anything EVER seen — across all previous
    batches — then (optionally) record the survivors' signatures. The
    rolling-crawl companion of ``incremental_exact_dedup``: exact
    incremental dedup only stops byte-identical recrawls; this stops
    the boilerplate-edited ones too.

    Within-batch near-dups collapse first (LSH candidates verified by
    exact shingle Jaccard, smallest-id cluster representative survives
    — identical semantics to ``minhash_near_duplicates`` +
    ``dedup_keep_representatives``). The history check then joins the
    survivors' band hashes against the band store and verifies
    candidates by SIGNATURE AGREEMENT (fraction of equal MinHash
    positions — the unbiased Jaccard estimator; the store keeps no
    historical text or shingles, so estimated Jaccard is the verify
    currency, stderr ~ sqrt(J(1-J)/num_perm) ≈ 0.06 at num_perm=64).

    Store layout under ``store_path``: ``bands/`` rows
    ``(_fp, band_idx, band_hash)`` and ``sigs/`` rows
    ``(_fp, signature)`` with ``_fp`` the xxhash64 of the signature —
    signatures are stored ONCE, not once per band row. With ``epoch``
    both live in per-epoch ``batch_id=N`` subdirectories and the
    history check EXCLUDES the current epoch's own directories, so a
    replayed epoch reproduces identical survivors (same idempotence
    contract as ``incremental_exact_dedup``).

    Scale shape: the probe side (one micro-batch of band hashes) is
    broadcast, so the band store is SCANNED map-side but never
    shuffled; candidate verification joins the candidate ``_fp`` set
    (micro-batch-bounded) against the sig store the same way. Each
    probe scans the whole band store, flat appends and epoch dirs
    alike; ``compact_near_store`` bounds that scan to the distinct
    signature set.
    """
    spark = new_docs.sparkSession
    # recover a torn compaction swap before probing (see
    # incremental_exact_dedup)
    recover_swap(spark, store_path)
    # 0. materialize the batch's MinHash signatures ONCE. Three
    # consumers need them (within-batch LSH, history probe, store
    # commit); without the pin each consumer (and every caller-side
    # action on the lazy result) re-ran the whole Arrow signature
    # pipeline: measured 13.3 s -> ~4 s for a 5k-doc probe when the
    # pin was introduced. r11: the pin is a localCheckpoint, not a
    # scratch-parquet roundtrip — RDD blocks store serialized rows, so
    # the columnar-cache slowness that rules out .persist() for
    # nested-array frames (see minhash_near_duplicates) does not
    # apply, and the write-job + commit + re-read-setup fixed costs
    # disappear (interleaved A/B: 1.31 s parquet vs 0.96 s checkpoint
    # for the materialize + three-consumer shape). Micro-batch-bounded
    # by contract; a 100 TB pipeline materializing CORPUS-scale
    # signatures still writes parquet — this path is the per-batch
    # probe.
    # The pin carries the 64-bit shingle HASHES (not the raw shingle
    # strings — those stay dropped, they are ~k x the document text):
    # shingle_hashes is the exact-verify currency, and pinning it lets
    # the verify stage semi-join the pin instead of re-scanning and
    # re-shingling the candidate documents (r12; consumed by
    # minhash_near_duplicates, see its docstring). One array<bigint>
    # of ~one hash per word — comparable to the text bytes it replaces
    # a second full read of.
    sigs_all = (
        minhash_signatures(new_docs, text_col, id_col, num_perm, k, bands=bands)
        .select(
            id_col,
            "signature",
            "band_hashes",
            F.transform("shingles", lambda s: F.xxhash64(s)).alias(
                "shingle_hashes"
            ),
        )
        .localCheckpoint()
    )

    # 1. within-batch collapse (micro-batch-sized, full exact verify) —
    # pinned as the LOSER ID SET, not the survivor rows (r11): the
    # three downstream consumers (the history probe's semi-join, the
    # store commit's semi-join, and the returned result) only need to
    # know WHICH docs survived. The pre-r11 shape spilled the full
    # survivor frame to scratch parquet — writing and re-reading every
    # surviving document's text (~the whole micro-batch payload) to
    # carry a lightweight membership decision, the guide-§8
    # anti-pattern. Now the decision is the localCheckpoint'ed loser
    # id list (8 bytes/doc, micro-batch-bounded by contract — the same
    # broadcast-safety argument as the history ``dropped`` set below),
    # and consumers re-attach it to ``new_docs`` with a broadcast
    # anti-join over a column-pruned scan.
    pairs = minhash_near_duplicates(
        new_docs, threshold, text_col, id_col, num_perm, k, bands,
        max_bucket_size=max_bucket_size, sigs=sigs_all,
    )
    # prefer_driver (r12): the micro-batch pair graph is bounded by
    # contract, so the path decision collects raw pairs directly and
    # the symmetrized-edge localCheckpoint (one whole job + its pinned
    # blocks per probe) is never built on the hot path.
    clusters = near_dup_clusters(pairs, "id_a", "id_b", prefer_driver=True)
    # The pair set is now fully drained (collected on the fast path,
    # materialized into the sym checkpoint on the rejection path) —
    # free the candidate/shingle persists minhash_near_duplicates left
    # behind instead of letting them ride session-lifetime LRU (r12,
    # pin-lifetime bound; blocking=False, the executor-side drop is
    # async).
    for _pin in getattr(pairs, "_psk_pins", []):
        _pin.unpersist(False)
    # The loser id set is micro-batch-bounded; pin it and anti-join it
    # everywhere — no scratch parquet roundtrip at all. On the
    # union-find fast path the cluster frame is ALREADY a driver-local
    # relation (near_dup_clusters marks it), so re-evaluating it is
    # free and a localCheckpoint job would be pure fixed cost; only
    # the distributed label-propagation path needs the pin.
    losers = clusters.where(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    # The broadcast hint is provably safe only on the union-find fast
    # path: there the loser set is a driver-local relation bounded by
    # the edge threshold (r11 review fix). On the distributed path the
    # batch already blew that threshold — exactly the regime where an
    # unconditional hint could force a driver collect of a huge loser
    # table — so leave the join strategy to AQE, which reads the
    # checkpoint's RUNTIME size and broadcasts a small set / demotes a
    # large one. Bench probes always take the fast path, so the
    # measured plan is unchanged.
    if getattr(clusters, "_psk_local", False):
        losers_b = F.broadcast(losers)
    else:
        losers = losers.localCheckpoint()
        losers_b = losers
    batch = new_docs.join(losers_b, on=id_col, how="left_anti")

    # 2. history check against the all-time band store. The probe reads
    # the WHOLE batch's signatures straight off the pin (r12) — the
    # former loser anti-join here only shrank the probe by the
    # within-batch loser count, and any extra ``dropped`` ids it now
    # admits are already absent from ``batch``, so the final anti-join
    # output is row-identical (a left_anti key with no matching probe
    # row is a no-op).
    sigs = _near_store_sigs(
        batch, text_col, id_col, num_perm, k, bands, sigs=sigs_all
    )
    band_paths = _store_paths(spark, f"{store_path}/bands", epoch)
    # a torn commit can leave bands without sigs (or vice versa): with
    # no signatures to verify against, candidates are unconfirmable —
    # keep the docs (near-dedup is best-effort-drop, never best-effort-
    # keep-losing-data) and let the next full commit repair the store
    sig_paths = _store_paths(spark, f"{store_path}/sigs", epoch)
    if band_paths and sig_paths:
        probe = sigs.select(
            F.col(id_col),
            F.col("signature"),
            F.posexplode("band_hashes").alias("band_idx", "band_hash"),
        )
        stored_bands = _scan_store(spark, band_paths, _BAND_STORE)
        # The .distinct() was A/B-tested for removal/weakening in r12
        # (one-off interleaved A/B, 5 rounds; tools/ab_bench.py runs
        # that protocol now): dropping it reads 19 -> 18 jobs and min
        # 2.671 -> 2.596 s (~3%, inside this host's noise band), and
        # dropDuplicates([id, _fp]) reads mixed (min 2.780, median
        # 3.040). KEPT: a pair that matches on
        # k of the 16 bands emits k duplicate rows, so the no-distinct
        # shape inflates the candidate set AQE broadcasts into the sig
        # verify by up to the band factor at store scale — a real
        # broadcast-safety regression for a noise-level local win.
        cand = (
            stored_bands.join(
                F.broadcast(probe), on=["band_idx", "band_hash"]
            )
            .select(id_col, "signature", "_fp")
            .distinct()
        )
        stored_sigs = _scan_store(spark, sig_paths, _SIG_STORE)
        agree = F.size(
            F.filter(
                F.zip_with("signature", "old_signature", lambda a, b: a == b),
                lambda x: x,
            )
        ) / F.lit(num_perm)
        # No .distinct() on the drop set (r11 A/B: full probe flow
        # 4.56 -> 4.22 s min): left_anti ignores duplicate keys, so the
        # dedup bought nothing semantically, and its exchange was a
        # whole extra stage. Row count bound: cand is distinct on
        # (id, _fp), so dropped carries one row per candidate match PER
        # STORED COPY of that _fp — epoch commits write each _fp once,
        # and on flat/replayed stores the duplication factor is small
        # and bounded by compaction (`compact_near_store` rewrites the
        # sig store distinct), so the broadcast stays
        # micro-batch x small-constant, not corpus-sized.
        dropped = (
            cand.join(
                stored_sigs.withColumnRenamed("signature", "old_signature"),
                on="_fp",
            )
            .where(agree >= threshold)
            .select(id_col)
        )
        if any("/batch_id=" not in d for d in sig_paths):
            # r12 (advisor fix): on a FLAT-append store (legacy
            # epoch=None commits) every replay re-appends every _fp, so
            # the no-distinct drop set grows linearly with replay count
            # — one row per candidate per stored copy — and the
            # broadcast with it. Re-add the distinct on exactly that
            # path; epoch stores keep the r11 no-distinct shape (each
            # commit OVERWRITES its batch_id dir, so _fp duplication is
            # bounded by construction and the A/B showed the exchange
            # costs more than it saves).
            dropped = dropped.distinct()
        # Pin the DECISION, not the machinery (r12): checkpointing the
        # drop-id set executes the whole history probe here, inside the
        # call, so the returned frame is just the batch scan plus two
        # anti-joins over driver-local/pinned id sets — it no longer
        # references the signature pin, the store scan, or the verify
        # join, which (a) makes re-evaluation by a multi-action caller
        # cheap and (b) is what lets the signature pin be freed below
        # instead of living until the caller's last action + GC. The
        # probe ran exactly once before and runs exactly once now; only
        # WHEN moved (from the caller's first action into this call).
        dropped = dropped.localCheckpoint()
        batch = batch.join(F.broadcast(dropped), on=id_col, how="left_anti")

    if update_store:
        commit_near_fingerprints(
            batch, store_path, text_col, id_col, num_perm, k, bands, epoch,
            sigs=sigs_all,
        )
    # Every consumer of the signature pin has now executed (pair
    # pipeline via the cluster collect, history probe via the dropped
    # checkpoint, store commit eagerly above) and the returned frame
    # does not reference it — free its RDD blocks explicitly instead of
    # waiting for Python GC + ContextCleaner, which in a long-lived
    # foreachBatch driver lets batch N's blocks survive arbitrarily
    # far into batch N+1 (r12, pin-lifetime bound).
    _unpersist_pin(sigs_all)
    return batch


def _unpersist_pin(df: DataFrame) -> None:
    """Free the RDD blocks behind a ``localCheckpoint()``-ed frame.

    PySpark exposes no public unpersist for checkpointed DataFrames
    (``df.rdd`` wraps a NEW conversion RDD, not the stored one), but the
    checkpoint's analyzed plan is a ``LogicalRDD`` whose ``rdd`` val IS
    the block-backed RDD — reach it through py4j and drop the blocks
    (non-blocking). Best-effort by design: on any mismatch (a frame
    that is not a bare checkpoint, an API drift) the blocks simply
    revert to the pre-r12 lifetime, Python GC + ContextCleaner."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def commit_near_fingerprints(
    survivors: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    k: int = 3,
    bands: int = 16,
    epoch: int | None = None,
    sigs: DataFrame | None = None,
) -> None:
    """Second phase of exactly-once incremental near-dedup: record the
    already-persisted survivors' band hashes + signatures (call AFTER
    the downstream sink write succeeds). Signatures are recomputed with
    the same deterministic expression the dedup pass used, so the
    two-phase split cannot drift. With ``epoch`` the commit OVERWRITES
    the epoch's own ``sigs/batch_id=N`` and ``bands/batch_id=N`` dirs
    with flat part files (idempotent replays); without it both stores
    get appends (duplicate rows only widen the candidate set, never
    change survivors). Both go through ``_commit_store``, like the
    exact-fingerprint store.

    ``sigs`` optionally supplies the batch's precomputed signature
    frame (a SUPERSET of the survivors is fine — it is semi-joined onto
    the survivor ids); the values are the same deterministic expression
    either way."""
    recover_swap(survivors.sparkSession, store_path)
    if sigs is not None:
        sigs = sigs.join(
            survivors.select(id_col), on=id_col, how="left_semi"
        )
    sigs = _near_store_sigs(
        survivors, text_col, id_col, num_perm, k, bands, sigs=sigs
    ).withColumn("_fp", F.xxhash64(F.col("signature")))
    # two independent write actions consume this frame; without the
    # pin each would re-run the whole shingle + MinHash pipeline
    sigs = sigs.persist()
    try:
        sig_rows = sigs.select("_fp", "signature")
        band_rows = sigs.select(
            "_fp", F.posexplode("band_hashes").alias("band_idx", "band_hash")
        )
        _commit_store(sig_rows, f"{store_path}/sigs", epoch)
        _commit_store(band_rows, f"{store_path}/bands", epoch)
    finally:
        sigs.unpersist()


def compact_fingerprint_store(spark, store_path: str, into_epoch: int = 0) -> dict:
    """Compact the exact-dedup fingerprint store: fold every epoch
    directory and loose append into ONE distinct-fingerprint base
    epoch (``batch_id=into_epoch``). A rolling crawl commits one epoch
    per micro-batch forever; without compaction the store's file/dir
    count — and every probe's scan cost — grows with epoch COUNT even
    when the fingerprint set stays flat. The log-compaction analog for
    the dedup store.

    Contract change it buys: epochs folded into the base are no longer
    replay-idempotent (a replayed pre-compaction epoch would anti-join
    against its own folded fingerprints) — compact only past the
    replay horizon, exactly like checkpoint GC. Crash-safe via
    ``durable.swap_in`` (+ ``recover_swap`` on entry); a second
    compaction of an already-compacted store is a no-op rewrite."""
    store_path = store_path.rstrip("/")
    recover_swap(spark, store_path)
    inputs = _store_paths(spark, store_path, None)
    if not inputs:
        return {"fingerprints": 0, "inputs": 0, "compacted": False}
    rewrite = rewrite_path(store_path)
    _commit_store(
        _scan_store(spark, inputs, _EXACT_STORE).distinct(), rewrite, into_epoch
    )
    n = _scan_store(spark, [f"{rewrite}/batch_id={int(into_epoch)}"], _EXACT_STORE).count()
    swap_in(spark, store_path)
    return {"fingerprints": n, "inputs": len(inputs), "compacted": True}


def compact_near_store(spark, store_path: str, into_epoch: int = 0) -> dict:
    """Compact the incremental NEAR-dup store (``sigs/`` + ``bands/``):
    distinct signature rows by ``_fp`` and distinct band rows by
    ``(_fp, band_idx, band_hash)``, folded into one base epoch each —
    same motivation, swap protocol, and replay-horizon contract as
    ``compact_fingerprint_store``. Store size after compaction is the
    true signature-set size, so the map-side probe scan cost stops
    growing with epoch count. The fold reads every layout a store may
    hold (loose appends, flat epochs, and the prefix-partitioned band
    epochs of older engine versions) and writes flat part files, so it
    also migrates older stores."""
    store_path = store_path.rstrip("/")
    recover_swap(spark, store_path)
    sig_in = _store_paths(spark, f"{store_path}/sigs", None)
    band_in = _store_paths(spark, f"{store_path}/bands", None)
    if not sig_in and not band_in:
        return {"signatures": 0, "band_rows": 0, "inputs": 0, "compacted": False}
    rewrite = rewrite_path(store_path)
    base = f"batch_id={int(into_epoch)}"
    _commit_store(
        _scan_store(spark, sig_in, _SIG_STORE).dropDuplicates(["_fp"]),
        f"{rewrite}/sigs",
        into_epoch,
    )
    _commit_store(
        _scan_store(spark, band_in, _BAND_STORE).distinct(), f"{rewrite}/bands", into_epoch
    )
    n_sig = _scan_store(spark, [f"{rewrite}/sigs/{base}"], _SIG_STORE).count()
    n_band = _scan_store(spark, [f"{rewrite}/bands/{base}"], _BAND_STORE).count()
    swap_in(spark, store_path)
    return {
        "signatures": n_sig,
        "band_rows": n_band,
        "inputs": len(sig_in) + len(band_in),
        "compacted": True,
    }


def remove_duplicated_spans(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_salts: int = 16,
    gram_hash: str = "md5",
) -> DataFrame:
    """Cross-document exact-substring span REMOVAL (Lee et al. 2021,
    arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
    Better", ExactSubstr rendered at word granularity): every token
    covered by a word n-gram that also occurs in at least one OTHER
    document is cut, and the remaining tokens are reassembled in order.
    The stronger sibling of ``remove_duplicated_chunks`` (fixed chunks)
    and ``dup_span_fraction`` (measurement only) — this one rewrites
    the corpus.

    Returns ``(id, text_clean, n_tokens_before, n_tokens_removed)``;
    fully-duplicated documents come back with ``text_clean = ''``.
    Reassembly joins surviving tokens with single spaces (the same
    token normalization the measurement ops apply).

    Scale shape: the gram table is ~|tokens| rows; the distinct-doc
    count per gram uses the same two-level salted aggregate as
    ``dup_span_fraction`` (exact under Zipfian stop-gram skew). The
    coverage expansion is a bounded ``sequence(p, p+n-1)`` explode over
    DUP positions only; the rebuild is a per-document ordered
    aggregation (bounded by document length).

    ``gram_hash`` picks the gram shuffle key: ``"md5"`` (default, a
    32-char hex string the DuckDB oracle can reproduce — the
    oracle-checkable form) or ``"xxhash64"`` (the SCALE twin: an 8-byte
    bigint key, ~4x fewer shuffle bytes per gram at 100 TB; Spark-only,
    so it has no SQL oracle — row-for-row parity with the md5 path is
    asserted by tests instead). Collisions are a non-issue for either:
    md5 is 128 bits, and a 64-bit collision (a ~2^32-gram birthday
    bound) could only over-remove one n-gram span, never corrupt
    reassembly.
    """
    if gram_hash not in ("md5", "xxhash64"):
        raise ValueError(f"gram_hash must be 'md5' or 'xxhash64', got {gram_hash!r}")
    words = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    d = docs.select(id_col, words.alias("w"))
    toks = d.select(id_col, F.posexplode("w").alias("idx", "tok"))
    grams = (
        d.where(F.size("w") >= n)
        .select(
            id_col,
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(w) - {n - 1}),"
                    f" i -> {gram_hash}(concat_ws(' ', slice(w, i, {n}))))"
                )
            ).alias("p", "g"),
        )
    )
    gd = _salted_distinct_doc_count(grams, "g", id_col, n_salts, "nd")
    dup_pos = grams.join(gd.where(F.col("nd") > 1), "g").select(id_col, "p")
    covered = dup_pos.select(
        id_col, F.explode(F.sequence(F.col("p"), F.col("p") + (n - 1))).alias("idx")
    ).distinct()
    kept = toks.join(covered, [id_col, "idx"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("text_clean"),
        F.count("*").alias("_n_after"),
    )
    before = F.size(words).cast("bigint")
    return (
        docs.select(id_col, before.alias("n_tokens_before"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("text_clean", F.lit("")).alias("text_clean"),
            "n_tokens_before",
            (
                F.col("n_tokens_before") - F.coalesce(F.col("_n_after"), F.lit(0))
            ).cast("bigint").alias("n_tokens_removed"),
        )
    )
