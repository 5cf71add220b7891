"""Document deduplication for large-scale training-data pipelines.

Four tiers, all shuffle-conscious:

- ``exact_dedup``       content-hash groupBy (one shuffle on a 16-byte key)
- ``minhash_lsh``       shingle -> minhash -> band -> bucket-join; candidate
                        pairs only form inside LSH buckets, never all-pairs.
                        Signatures come from a vectorized NumPy kernel over
                        Arrow batches (``minhash_signatures_np``).
- ``simhash``           64-bit sign-of-weighted-votes fingerprint (Arrow
                        batch UDF), near-dups = Hamming distance <= t via
                        bucket join on rotated prefixes.
- ``ngram_jaccard``     exact Jaccard verification on candidate pairs.

At 100 TB the only shuffles are groupBys on (band_id, band_hash) — bounded,
well-distributed keys; pair verification joins stay within buckets.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One row per duplicate *group* (n>1): content hash, count, keeper id."""
    return (docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
                .agg(F.count("*").alias("n_dups"),
                     F.min(id_col).alias("keeper"))
                .where(F.col("n_dups") > 1))


def drop_exact_dups(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each content group."""
    w_keeper = (docs.groupBy(F.md5(F.col(text_col)).alias("_h"))
                    .agg(F.min(id_col).alias(id_col)))
    return docs.join(w_keeper.select(id_col), id_col, "left_semi")


def shingles(text_col: str, k: int = 5) -> F.Column:
    """Array of character k-shingles — pure higher-order-function SQL."""
    t = F.lower(F.col(text_col))
    n = F.greatest(F.length(t) - (k - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), n), lambda i: t.substr(i, F.lit(k)))


def _sm_mix_np(z: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer on uint64 arrays."""
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _widened_id_type(simple: str, id_col: str, strict: bool = True) -> str:
    """Stable on-disk id type for signature tables/stores: integral
    widths all widen to ``long``, strings pass through.  ``strict``
    (the STORE boundary — build/append) raises on anything else, so a
    store can never accumulate mixed-type files; non-strict (in-session
    signature generation, where ids only flow through joins and ``<``)
    passes unknown types through unchanged."""
    if simple in ("tinyint", "smallint", "int", "bigint"):
        return "bigint"
    if simple == "string" or not strict:
        return simple
    raise ValueError(
        f"id column {id_col!r} must be integral or string for the "
        f"signature store, got {simple}")


def _check_store_id_type(spark, path: str, new_sig: DataFrame) -> None:
    """Append chokepoint: the batch's ``_id`` type must equal the
    resident ``sigs`` type.  A store built before the round-7 widening
    (int32 on disk) or a string-id store fed a bigint batch would
    otherwise accumulate mixed-type parquet files and wedge every later
    read (review r7, second pass)."""
    from .similarity import _live_dir
    resident = dict(spark.read.parquet(_live_dir(f"{path}/sigs"))
                    .dtypes)["_id"]
    batch = dict(new_sig.dtypes)["_id"]
    if resident != batch:
        raise ValueError(
            f"store at {path} holds _id:{resident} but the batch carries "
            f"_id:{batch} — appending would mix parquet schemas; rebuild "
            "the store (or cast the batch ids) to migrate")


def minhash_signatures_np(docs: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 5,
                          n_hashes: int = 32) -> DataFrame:
    """(_id, sig array<long>) via a NumPy mapInPandas kernel: sliding-window
    FNV-1a over the lowercased UTF-8 bytes + Kirsch–Mitzenmacher double
    hashing: variant i of window hash h1 is ``h1 + i * h2`` with
    ``h2 = splitmix(h1) | 1`` (odd, so every variant family is a
    full-period permutation of Z_2^64).

    WHY KM (round 3): the round-2 family ``mix(h xor salt_i)`` derived all
    variants from one mix of the same base — measured on sf0.1 documents it
    left the per-slot argmins CORRELATED across salts, inflating est_jaccard
    for non-dup pairs: 2831 candidate pairs of which only 256 were true
    (precision 0.09).  KM double hashing, same cost, emits 299 with the
    SAME 256 true pairs (precision 0.86).  See BENCH/IMPROVEMENTS.md.

    ``_id`` follows the input id type — STRING ids carry the namespaced
    ``doc:``/``img:`` nodes of ``cross_modal_pairs``; every INTEGRAL
    width is widened to ``long`` so two batches of the same store can
    never append mixed int32/int64 parquet files (which would wedge
    every later read of ``sigs`` — review r7).  Other id types pass
    through for in-session pair generation; the STORE boundary
    (build/append) enforces integral-or-string separately."""
    id_type = _widened_id_type(docs.schema[id_col].dataType.simpleString(),
                               id_col, strict=False)

    def batch(it):
        for pdf in it:
            sig = km_minhash_batch(pdf[text_col], k, n_hashes)
            yield pd.DataFrame({"_id": pdf[id_col],
                                "sig": sig.astype(np.int64).tolist()})

    return docs.select(id_col, text_col).mapInPandas(
        batch, schema=f"_id {id_type}, sig array<long>")


def km_minhash_batch(texts, k: int = 5, n_hashes: int = 32) -> np.ndarray:
    """(n_docs, n_hashes) KM minhash signatures, vectorized across the WHOLE
    batch (round 8, guide §4.2): one flat byte buffer for every document,
    ONE sliding-window FNV-1a pass over it, per-doc minima via
    ``minimum.reduceat`` — no per-document Python loop (the round-3 kernel
    ran ~30 interpreter steps per doc; at 72k docs that loop was the
    dedup-pipeline wall).  Byte-identical to the scalar form
    (``_km_sig_doc``, kept as the parity oracle — asserted in tests):
    windows crossing document boundaries are EXCLUDED by a ragged index
    gather, never by a sentinel (KM variants wrap modulo 2^64, so a
    sentinel hash could still win a minimum)."""
    prime = np.uint64(0x100000001B3)
    bufs = []
    for t in texts:
        b = str(t).lower().encode("utf-8")
        if len(b) < k:
            b = b + b"\x00" * (k - len(b))
        bufs.append(b)
    n_docs = len(bufs)
    if n_docs == 0:
        return np.zeros((0, n_hashes), dtype=np.uint64)
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=n_docs)
    flat = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    # FNV-1a over every flat window (including doc-crossing ones — cheaper
    # to compute than to branch; they are dropped by the gather below)
    win = np.lib.stride_tricks.sliding_window_view(flat, k)
    h1f = np.full(len(win), 0xCBF29CE484222325, np.uint64)
    for j in range(k):
        h1f = (h1f ^ win[:, j].astype(np.uint64)) * prime
    # ragged index of each doc's VALID windows in the flat window array
    nwin = lens - (k - 1)                      # >= 1 (short docs padded)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    total = int(nwin.sum())
    # valid_idx = concat(arange(start_d, start_d + nwin_d))
    doc_of = np.repeat(np.arange(n_docs), nwin)
    within = np.arange(total) - np.repeat(np.cumsum(nwin) - nwin, nwin)
    valid_idx = starts[doc_of] + within
    h1 = h1f[valid_idx]
    h2 = _sm_mix_np(h1) | np.uint64(1)
    red = np.cumsum(nwin) - nwin               # reduceat boundaries
    sig = np.empty((n_docs, n_hashes), dtype=np.uint64)
    for i in range(n_hashes):
        sig[:, i] = np.minimum.reduceat(h1 + np.uint64(i) * h2, red)
    return sig


def _km_sig_doc(text, k: int = 5, n_hashes: int = 32) -> np.ndarray:
    """Scalar per-document reference of ``km_minhash_batch`` (the round-3
    kernel verbatim) — kept ONLY as the batch kernel's parity oracle."""
    prime = np.uint64(0x100000001B3)
    iarr = np.arange(n_hashes, dtype=np.uint64)
    b = np.frombuffer(str(text).lower().encode("utf-8"), np.uint8)
    if len(b) < k:
        b = np.pad(b, (0, k - len(b)))
    win = np.lib.stride_tricks.sliding_window_view(b, k)
    h1 = np.full(len(win), 0xCBF29CE484222325, np.uint64)
    for j in range(k):
        h1 = (h1 ^ win[:, j].astype(np.uint64)) * prime
    h2 = _sm_mix_np(h1) | np.uint64(1)
    return (h1[:, None] + iarr[None, :] * h2[:, None]).min(axis=0)


def minhash_lsh(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                k: int = 5, n_hashes: int = 32, bands: int = 8,
                jaccard_threshold: float = 0.6,
                max_bucket: int = 200) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard) via banded MinHash.

    rows_per_band = n_hashes/bands; a pair collides if any band's slice of
    the signature matches exactly.  est_jaccard = fraction of matching
    minhashes (unbiased estimator); filtered at ``jaccard_threshold``.

    ``max_bucket``: buckets larger than this are dropped before the pair
    join — the standard skew guard at scale (an over-full bucket means
    boilerplate shared by thousands of docs and would blow up the join
    quadratically; its members still pair through their other bands).

    Signatures come from the Arrow/NumPy kernel ``minhash_signatures_np``
    (measured faster than an interpreted JVM higher-order-function
    pipeline at sf0.1, BENCH/BASELINE.md)."""
    # Small inputs arrive as ONE parquet split, which would serialize the
    # signature kernel on a single core — spread the rows first.  At scale
    # inputs already have many splits and this is a no-op.
    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)
    sig = minhash_signatures_np(docs, text_col, id_col, k, n_hashes)
    return minhash_pairs_from_sig(sig, n_hashes, bands, jaccard_threshold,
                                  max_bucket)


def band_table(sig: DataFrame, n_hashes: int = 32,
               bands: int = 8) -> DataFrame:
    """(_id, band_id, band_hash) LSH band table from a signature table —
    the shared banding step of ``minhash_pairs_from_sig`` and the
    persisted incremental store (``build_minhash_store``)."""
    r = n_hashes // bands
    return sig.select(
        "_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"),
                     F.xxhash64(F.concat_ws(",", *[
                         F.element_at("sig", b * r + j + 1).cast("string")
                         for j in range(r)])).alias("band_hash"))
            for b in range(bands)])).alias("band")
    ).select("_id", "band.band_id", "band.band_hash")


_BAND_KEY = ["band_id", "band_hash"]     # minhash LSH bucket
_BLOCK_KEY = ["block_id", "block_val"]   # simhash/phash pigeonhole bucket


def _drop_hot(rows: DataFrame, key: list, max_bucket: int | None,
              distinct_ids: bool = False) -> DataFrame:
    """Rows of buckets with at most ``max_bucket`` members — the skew
    guard of every bucket join (an over-full bucket means boilerplate
    shared by thousands of rows and would blow the join up quadratically;
    its members still pair through their other buckets).  The hot list
    comes from an aggregate + broadcast anti-join: the probe rows never
    shuffle (a window count would re-shuffle them all on the bucket key
    just to count), and the hot list is tiny by definition.
    ``distinct_ids`` counts distinct ``_id`` members instead of rows."""
    if max_bucket is None:
        return rows
    n, name = ((F.countDistinct("_id"), "n") if distinct_ids
               else (F.count(F.lit(1)), "count"))
    hot = (rows.groupBy(*key).agg(n.alias(name))
               .where(F.col(name) > max_bucket)
               .select(*key))
    return rows.join(F.broadcast(hot), key, "left_anti")


def _bucket_join(a: DataFrame, b: DataFrame, key: list, on_ids=None,
                 extra=(), keep=None) -> DataFrame:
    """Candidate pairs of two bucket tables: rows sharing a bucket ``key``
    (and ``on_ids``) become (id_a from ``a``, id_b from ``b``, *extra),
    filtered by ``keep`` and deduplicated — a pair may share several
    buckets.  The sides are aliased ``a``/``b`` and every column is
    qualified.  NOTE: renaming columns of the SAME plan and joining (the
    naive self-join) hits Spark's ambiguous-attribute resolution — both
    sides can silently bind to one, NONDETERMINISTICALLY."""
    cond = ((F.col(f"a.{key[0]}") == F.col(f"b.{key[0]}"))
            & (F.col(f"a.{key[1]}") == F.col(f"b.{key[1]}")))
    if on_ids is not None:
        cond = cond & on_ids
    pairs = (a.alias("a").join(b.alias("b"), cond)
              .select(F.col("a._id").alias("id_a"),
                      F.col("b._id").alias("id_b"), *extra))
    if keep is not None:
        pairs = pairs.where(keep)
    return pairs.dropDuplicates(["id_a", "id_b"])


def _hamming() -> F.Column:
    """Hamming distance of the 64-bit hashes of a ``_bucket_join`` pair."""
    return F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))) \
        .alias("hamming")


def _est_jaccard(sig_a: F.Column, sig_b: F.Column, n_hashes: int) -> F.Column:
    """Fraction of matching minhash slots.  A/B-measured (round 8): this
    zip_with/filter form beats a flat 32-term element_at comparison sum
    (1.9 s vs 2.5 s at 600k candidate pairs) — keep the higher-order form."""
    return (F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y),
                            lambda m: m)).cast("double")
            / F.lit(float(n_hashes)))


def minhash_pairs_from_sig(sig: DataFrame, n_hashes: int = 32,
                           bands: int = 8, jaccard_threshold: float = 0.6,
                           max_bucket: int = 200) -> DataFrame:
    """Banded pair join + estimate stage of ``minhash_lsh`` over a
    precomputed signature table (columns ``_id``, ``sig array<long>``) —
    callable over a persisted signature artifact so an external oracle can
    re-run the same banding/join/estimate SQL-side (band buckets formed by
    xxhash64 of the band tuple here ≡ grouping by the raw tuple there)."""
    # persist only if the CALLER hasn't: Spark has no persist refcounting,
    # so unpersisting a caller-cached input here would silently evict
    # their cache (incremental_minhash_pairs passes an already-persisted
    # batch signature table it keeps using afterwards)
    lvl = sig.storageLevel
    sig_owned = not (lvl.useMemory or lvl.useDisk)
    if sig_owned:
        sig = sig.persist()

    bands_df = band_table(sig, n_hashes, bands).persist()
    # force materialization NOW: a lazily-persisted self-join input is
    # still re-resolved per side at analysis time (observed nondeterminism
    # persists until the cache actually exists before the join is planned).
    # ONE job materializes both caches — bands_df scans every sig partition,
    # so counting it fills sig's cache too (the separate sig.count() job
    # was measured at ~0.4 s of pure latency per call, round 8)
    bands_df.count()

    # ids travel through the bucket join, signatures re-attach by id after
    kept = _drop_hot(bands_df, _BAND_KEY, max_bucket)
    pairs = _bucket_join(kept, kept, _BAND_KEY, F.col("a._id") < F.col("b._id"))
    sa = sig.select(F.col("_id").alias("id_a"), F.col("sig").alias("sig_a")).alias("sa")
    sb = sig.select(F.col("_id").alias("id_b"), F.col("sig").alias("sig_b")).alias("sb")
    pairs = pairs.join(sa, "id_a").join(sb, "id_b")
    pairs = pairs.withColumn("est_jaccard", _est_jaccard(
        F.col("sa.sig_a"), F.col("sb.sig_b"), n_hashes))
    out = (pairs.where(F.col("est_jaccard") >= jaccard_threshold)
                .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
                .persist())
    # Materialize the (small) pair result, then release the heavy
    # intermediate caches — they otherwise leak executor storage memory
    # across repeated calls in one session.  Callers owning long sessions
    # may unpersist() the returned DataFrame when done with it.
    out.count()
    if sig_owned:
        sig.unpersist()
    bands_df.unpersist()
    return out


def _fnv1a64(data: bytes) -> int:
    """Deterministic 64-bit FNV-1a (public algorithm) — SCALAR reference.
    The hot path is ``_fnv1a64_batch``; this stays as its parity oracle
    (same pattern as jpeg.py's scalar/vectorized pair).  NEVER use Python's
    builtin ``hash()`` in executor code: string hashing is salted per
    process (PYTHONHASHSEED), so results would differ across workers."""
    h = 0xCBF29CE484222325
    for b in data:
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def _fnv1a64_batch(tokens: list) -> np.ndarray:
    """Vectorized FNV-1a over a batch of byte strings -> uint64 array.

    The fold is sequential over BYTE POSITIONS but whole-array over tokens:
    scatter all bytes into a (n_tokens, maxlen) uint8 matrix, then loop
    maxlen times (token lengths, ~5-15) doing uint64 xor/multiply on every
    still-live token at once — the round-2 per-byte-per-token Python loop
    ran len(token) x n_tokens interpreter steps instead.  Byte-identical to
    ``_fnv1a64`` (test_simhash_vectorized_matches_scalar)."""
    n = len(tokens)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=n)
    maxlen = int(lens.max())
    h = np.full(n, 0xCBF29CE484222325, dtype=np.uint64)
    if maxlen == 0:
        return h
    flat = np.frombuffer(b"".join(tokens), dtype=np.uint8)
    ends = np.cumsum(lens)
    rows = np.repeat(np.arange(n), lens)
    cols = np.arange(len(flat)) - np.repeat(ends - lens, lens)
    mat = np.zeros((n, maxlen), dtype=np.uint8)
    mat[rows, cols] = flat
    prime = np.uint64(0x100000001B3)
    for pos in range(maxlen):
        live = lens > pos
        h[live] = (h[live] ^ mat[live, pos].astype(np.uint64)) * prime
    return h


def simhash_pdf(texts, ids, text_col: str, id_col: str) -> pd.DataFrame:
    """SimHash a batch of texts (vectorized across ALL tokens of the batch):
    one FNV pass over the concatenated token list, bits via ``unpackbits``
    on the hash bytes, per-doc vote sums in ONE ``add.reduceat`` pass over
    the doc-ordered token rows — no per-document Python loop."""
    tok_lists = [str(t).lower().split() for t in texts]
    n_docs = len(tok_lists)
    n_tok = np.fromiter((len(tl) for tl in tok_lists), dtype=np.int64,
                        count=n_docs)
    all_toks = [w.encode("utf-8") for tl in tok_lists for w in tl]
    hs = _fnv1a64_batch(all_toks)
    sig = np.zeros(n_docs, dtype=np.uint64)
    nz = n_tok > 0
    if len(hs):
        # (n_tokens, 64) bit matrix, column j = bit j of the hash
        # (little-endian byte view + per-byte LSB-first unpack)
        bits = np.unpackbits(hs.astype("<u8").view(np.uint8).reshape(-1, 8),
                             axis=1, bitorder="little")
        starts = (np.cumsum(n_tok) - n_tok)[nz]
        # dtype= on the ufunc (NOT bits.astype) — the widened copy of the
        # (n_tokens, 64) matrix was 7x the cost of the reduce itself
        ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int32)
        votes_pos = 2 * ones > n_tok[nz, None]     # votes = 2*ones - n > 0
        weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        sig[nz] = votes_pos.astype(np.uint64) @ weights
    return pd.DataFrame({id_col: ids, "simhash": sig.astype(np.int64)})


def simhash_signature(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document (vectorized Arrow batches)."""

    par = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par)  # spread single-split inputs (see minhash_lsh)

    def batch(it):
        for pdf in it:
            yield simhash_pdf(pdf[text_col], pdf[id_col], text_col, id_col)

    return docs.select(id_col, text_col).mapInPandas(
        batch, schema=f"{id_col} long, simhash long")


def simhash_pairs(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", max_hamming: int = 3,
                  max_bucket: int = 200) -> DataFrame:
    """Near-duplicate pairs by SimHash: (id_a < id_b, hamming <= max_hamming).

    Pigeonhole bucketing: the 64-bit signature splits into
    ``max_hamming + 1`` blocks — any pair within ``max_hamming`` flipped
    bits matches EXACTLY on at least one block, so candidates form only
    inside (block_id, block_value) buckets (never all-pairs) with 100%
    recall at the stated radius.  Verification is a JVM ``bit_count(xor)``.
    ``max_bucket`` is the same hot-bucket skew guard as ``minhash_lsh``."""
    sig = simhash_signature(docs, text_col, id_col) \
        .withColumnRenamed(id_col, "_id")
    return simhash_pairs_from_sig(sig, max_hamming, max_bucket)


def simhash_blocks(max_hamming: int):
    """(widths, offsets) of the ``max_hamming + 1`` pigeonhole blocks a
    64-bit signature splits into — shared by the Spark pair join and the
    SQL oracle that re-expresses it."""
    n_tables = max_hamming + 1
    widths = [64 // n_tables + (1 if i < 64 % n_tables else 0)
              for i in range(n_tables)]
    offs = [sum(widths[:i]) for i in range(n_tables)]
    return widths, offs


def pigeonhole_block_table(sig: DataFrame,
                           max_hamming: int = 3) -> DataFrame:
    """(_id, simhash, block_id, block_val) pigeonhole table from a
    64-bit signature table — shared by the in-session pair join and the
    persisted incremental phash store."""
    n_tables = max_hamming + 1
    widths, offs = simhash_blocks(max_hamming)
    return sig.select(
        "_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("block_id"),
                F.shiftrightunsigned(F.col("simhash"), offs[b])
                 .bitwiseAND(F.lit((1 << widths[b]) - 1)).alias("block_val"))
            for b in range(n_tables)])).alias("blk")
    ).select("_id", "simhash", "blk.block_id", "blk.block_val")


def simhash_pairs_from_sig(sig: DataFrame, max_hamming: int = 3,
                           max_bucket: int = 200) -> DataFrame:
    """Pigeonhole pair join over a precomputed signature table (columns
    ``_id``, ``simhash``) — the pair-join stage of ``simhash_pairs``,
    callable over a persisted signature artifact so an external oracle can
    re-run the same join SQL-side."""
    # unlike minhash_pairs_from_sig, sig is consumed EXACTLY once here (the
    # self-joined table is ``blocks``, which carries simhash through), so an
    # owned sig needs no cache of its own — blocks' materialization below is
    # the pre-self-join fence (two redundant jobs removed, round 8)
    blocks = pigeonhole_block_table(sig, max_hamming).persist()
    blocks.count()  # materialize before the self-join (see minhash_lsh)
    kept = _drop_hot(blocks, _BLOCK_KEY, max_bucket)
    out = _bucket_join(kept, kept, _BLOCK_KEY,
                       F.col("a._id") < F.col("b._id"), [_hamming()],
                       F.col("hamming") <= max_hamming).persist()
    out.count()   # materialize the (small) result, release intermediates
    blocks.unpersist()
    return out


def phash_pairs(images: DataFrame, id_col: str = "image_id",
                phash_col: str = "phash", max_hamming: int = 3,
                max_bucket: int = 200) -> DataFrame:
    """Image near-duplicate pairs by perceptual-hash Hamming distance:
    (id_a < id_b, hamming <= max_hamming) over the input table's
    ``phash:int64`` column (the BASELINE.json ``input_hint`` carries it
    for exactly this).  Identical machinery to ``simhash_pairs_from_sig``
    — the 64-bit pigeonhole guarantee is hash-agnostic: any pair within
    ``max_hamming`` flipped bits matches exactly on one of the
    ``max_hamming + 1`` blocks, so candidates form only inside
    (block_id, block_value) buckets, verified by a JVM ``bit_count(xor)``.
    Works for long OR string ids (only ``<`` ordering is used).  Feed the
    result into ``components.dedup_corpus`` for the survivor table."""
    sig = images.select(F.col(id_col).alias("_id"),
                        F.col(phash_col).cast("long").alias("simhash"))
    return simhash_pairs_from_sig(sig, max_hamming, max_bucket)


def ngram_jaccard(docs: DataFrame, pairs: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 5) -> DataFrame:
    """Exact shingle-Jaccard for candidate (id_a, id_b) pairs.

    The returned DataFrame is materialized + persisted so the shingle-set
    intermediate can be unpersisted here (same cache hygiene as
    ``minhash_lsh``); callers may ``unpersist()`` the result when done."""
    sh = docs.select(F.col(id_col).alias("_id"),
                     F.array_distinct(shingles(text_col, k)).alias("sh")).persist()
    j = (pairs
         .join(sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
         .join(sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    out = j.select("id_a", "id_b",
                   F.round(inter / union, 6).alias("jaccard")).persist()
    out.count()
    sh.unpersist()
    return out


# ---------------------------------------------------------------------------
# incremental dedup against a persisted signature store (round 6 — the
# streaming-ingest analog of similarity.append_to_index: a training-data
# pipeline appends documents daily and must reject near-dups of the
# RESIDENT corpus without recomputing anything over it)
#
# Both stores — minhash text signatures and phash image signatures — are
# one layout and one mechanism: ``{path}/sigs`` (_id + signature), a
# DERIVED bucket table always regenerable from sigs with the params
# sidecar (``bands`` / ``blocks``), and ``{path}/params``.  The core below
# is written once; a ``_StoreKind`` says what the two stores differ in.
# ---------------------------------------------------------------------------

class _StoreKind(NamedTuple):
    name: str           # compact_store's ``store`` report value
    derived: str        # derived bucket table directory under the root
    key: list           # its (bucket id, bucket value) columns
    derive: Callable    # (sig, cfg) -> derived rows of a signature table
    rows_per_sig: Callable   # cfg -> derived rows per signature
    cross: Callable     # (spark, sigs dir, stored rows, batch rows,
    #                       new_sig, cfg, small_batch) -> cross pairs
    intra: Callable     # (new_sig, cfg) -> in-batch pairs


def _store_params(spark, path: str) -> dict:
    return {k: int(v) for k, v in
            spark.read.parquet(f"{path}/params").collect()[0]
                 .asDict().items()}


def _build_store(sig: DataFrame, path: str, kind: _StoreKind,
                 params: dict) -> None:
    """Write ``sigs``, the derived table (from the WRITTEN sigs, so the
    two always agree) and the params sidecar."""
    spark = sig.sparkSession
    sig.write.mode("overwrite").parquet(f"{path}/sigs")
    kind.derive(spark.read.parquet(f"{path}/sigs"), params) \
        .write.mode("overwrite").parquet(f"{path}/{kind.derived}")
    spark.createDataFrame(pd.DataFrame({k: [v] for k, v in params.items()})) \
        .write.mode("overwrite").parquet(f"{path}/params")


def _store_pairs(spark, path: str, kind: _StoreKind, signatures,
                 broadcast_threshold: int, **opts):
    """Near-dup pairs of a NEW batch against the persisted store AND
    within the batch itself, touching only O(batch + candidates) of the
    resident corpus.  ``signatures(cfg)`` builds the batch signature
    table from the store params; ``opts`` (``max_bucket`` and the kind's
    thresholds) join the params in ``cfg``.  Returns ``(pairs, new_sig)``
    with ``new_sig`` persisted for the append.

    Scale shape: the daily batch is small relative to the corpus, so the
    batch's derived rows BROADCAST and the resident derived table is only
    SCANNED (no shuffle of resident rows).  Batches past
    ``broadcast_threshold`` derived rows (a BACKFILL — round-6 verdict #3:
    broadcasting millions of rows OOMs the driver/executors) fall back to
    a sort-merge join on the bucket key, hint-pinned so size stats can't
    flip it back."""
    from .similarity import _live_dir
    # a compaction crashed mid-swap leaves the layout under
    # __compact_old — READ it from there; renaming from this (read-only)
    # path would race an in-flight compaction swap (review r7, third
    # pass).  The next append/compaction performs the actual recovery.
    live = (f"{path}/sigs", f"{path}/{kind.derived}")
    spath, dpath = map(_live_dir, live)
    cfg = {**_store_params(spark, path), **opts}

    new_sig = signatures(cfg).persist()
    # fail BEFORE any pair work or sink delivery: with the id widening
    # relaxed in-session, a mistyped batch id would otherwise surface
    # only at append time — after the admission's out_sink already
    # delivered the batch, leaving a permanent poison pill (review r7,
    # third pass)
    _check_store_id_type(spark, path, new_sig)
    small_batch = new_sig.count() * kind.rows_per_sig(cfg) \
        <= broadcast_threshold
    new_rows = kind.derive(new_sig, cfg)

    # resident hot buckets are a property of the STORE — exclude them
    # store-side.  Distinct ids, not rows: a crash-replayed append can
    # leave DUPLICATE derived rows (harmless for pairs, which dedupe), and
    # a raw row count would let them push a legitimate bucket over the
    # cap — silently disabling near-dup detection for it
    stored = _drop_hot(spark.read.parquet(dpath), kind.key,
                       cfg["max_bucket"], distinct_ids=True)
    nb_side = (F.broadcast(new_rows) if small_batch
               else new_rows.hint("merge"))
    cross = kind.cross(spark, spath, stored, nb_side, new_sig, cfg,
                       small_batch)
    intra = kind.intra(new_sig, cfg)
    pairs = cross.unionByName(intra)
    if (spath, dpath) != live:
        # crashed-swap view: checkpoint (not persist) so the pair table
        # survives the writer recovery that the downstream append runs —
        # a persisted plan re-evaluates against the renamed-away path if
        # its partitions are evicted.  Eager: no count needed.
        pairs = pairs.localCheckpoint(eager=True)
    else:
        pairs = pairs.persist()
        pairs.count()
    intra.unpersist()
    return pairs, new_sig


def _append_to_store(spark, path: str, new_sig: DataFrame,
                     kind: _StoreKind, check_id_type: bool) -> int:
    """Append a batch's signatures + derived rows; returns the row count."""
    from .similarity import _recover_swap
    # a compaction crashed mid-swap leaves sigs/derived under
    # __compact_old; appending into a fresh root would orphan the store
    _recover_swap(f"{path}/sigs")
    _recover_swap(f"{path}/{kind.derived}")
    if check_id_type:
        _check_store_id_type(spark, path, new_sig)
    cfg = _store_params(spark, path)
    # checkpoint: the (semi-join) input evaluates ONCE, not per action.
    # Write order derived THEN sigs: a crash between the files leaves
    # duplicate derived rows a replay re-appends harmlessly, whereas
    # sigs-without-derived would trip the same-id replay guard while
    # silently losing CONTENT rejection for those rows forever.  (At
    # deployment both appends belong in one transactional Iceberg
    # commit — SCALE.md checkpoint row.)
    new_sig = new_sig.localCheckpoint(eager=True)
    n = new_sig.count()
    kind.derive(new_sig, cfg).write.mode("append") \
        .parquet(f"{path}/{kind.derived}")
    new_sig.write.mode("append").parquet(f"{path}/sigs")
    return n


def _admit_batch(new_docs: DataFrame, pairs: DataFrame,
                 new_ids: DataFrame, stored_ids: DataFrame,
                 id_col: str) -> DataFrame:
    """Pure admission set-logic of :func:`incremental_dedup` (separated
    so its edge semantics are unit-testable with handcrafted pairs):

    (a) an id ALREADY RESIDENT is rejected outright — the cross band
        join cannot represent a self-pair (id_a == id_b is filtered), so
        a replayed batch (foreachBatch crash-replay, duplicate feeds)
        would otherwise re-admit its rows and double-append signatures;
    (b) direct near-dups of resident docs are rejected;
    (c) batch-internal clusters collapse to the min-id survivor — but a
        cluster with ANY store-hitting member is rejected WHOLE
        (B~A~S means B transitively duplicates resident S even when B
        never band-matches S directly; the same closure semantics the
        batch path gets from connected components)."""
    from . import components as cc
    already = new_ids.join(stored_ids.withColumnRenamed("_id", id_col),
                           id_col, "left_semi")
    hit_store = (pairs.join(stored_ids.withColumnRenamed("_id", "id_a"),
                            "id_a", "left_semi")
                      .select(F.col("id_b").alias(id_col))
                 .unionByName(
                     pairs.join(stored_ids.withColumnRenamed("_id", "id_b"),
                                "id_b", "left_semi")
                          .select(F.col("id_a").alias(id_col)))
                 .join(new_ids, id_col, "left_semi")
                 .distinct())
    hits = hit_store.unionByName(already).distinct()

    intra = (pairs.join(new_ids.withColumnRenamed(id_col, "id_a"),
                        "id_a", "left_semi")
                  .join(new_ids.withColumnRenamed(id_col, "id_b"),
                        "id_b", "left_semi")
                  .select("id_a", "id_b"))
    comp = cc.connected_components(intra)
    bad_roots = (comp.join(hits.withColumnRenamed(id_col, "node"),
                           "node", "left_semi")
                     .select("root").distinct())
    cluster_reject = (comp.join(F.broadcast(bad_roots), "root", "left_semi")
                          .select(F.col("node").alias(id_col)))
    survivors_in_batch = cc.dedup_corpus(new_docs, intra, id_col=id_col,
                                         components=comp)
    reject = hits.unionByName(cluster_reject).distinct()
    return survivors_in_batch.join(reject, id_col, "left_anti")


def _admit_to_store(spark, path: str, new_rows: DataFrame, id_col: str,
                    pairs: DataFrame, new_sig: DataFrame, out_sink,
                    append) -> DataFrame:
    """Admission control shared by both stores: reject rows near-
    duplicating the RESIDENT corpus, collapse duplicate clusters WITHIN
    the batch to their min-id survivor (transitively, via connected
    components), deliver the accepted rows to ``out_sink`` and only then
    ``append`` their signatures — "first seen wins", the streaming-natural
    survivor policy.  Returns the accepted rows of ``new_rows``."""
    from .similarity import _live_dir
    new_ids = new_sig.select(F.col("_id").alias(id_col))
    stored_ids = spark.read.parquet(_live_dir(f"{path}/sigs")) \
        .select("_id")
    # localCheckpoint (NOT persist): the append below writes into
    # {path}/sigs, and Spark's InsertIntoHadoopFsRelation refreshes that
    # path's file index — invalidating any CACHED plan that reads it
    # (this plan does, via stored_ids).  A recompute after the append
    # would see the just-accepted rows as resident and reject them.
    # Checkpointing truncates the plan to materialized blocks with no
    # path dependency, so the returned DataFrame is stable.
    accepted = _admit_batch(new_rows, pairs.select("id_a", "id_b"),
                            new_ids, stored_ids,
                            id_col).localCheckpoint(eager=True)
    if out_sink is not None:
        # deliver BEFORE the store append: a crash after the append but
        # before delivery would make the replay reject these rows as
        # already-resident — accepted rows silently lost from the
        # output forever.  Sink-first + an idempotent per-batch sink
        # narrows the failure window to a mid-append crash, whose
        # residue is duplicate store rows, not lost rows.
        out_sink(accepted)
    append(spark, path,
           new_sig.join(accepted.select(F.col(id_col).alias("_id")),
                        "_id", "left_semi"),
           check_id_type=False)   # already checked pre-sink in the pairs step
    new_sig.unpersist()
    pairs.unpersist()
    return accepted


def _minhash_cross(spark, spath: str, stored: DataFrame, new_rows: DataFrame,
                   new_sig: DataFrame, cfg: dict,
                   small_batch: bool) -> DataFrame:
    """Minhash cross-pair check: a band match only nominates a candidate —
    re-attach both signatures by id (the resident side through a join
    keyed by the bounded candidate ids) and keep est_jaccard >=
    ``jaccard_threshold``."""
    cand = _bucket_join(stored, new_rows, _BAND_KEY,
                        keep=F.col("id_a") != F.col("id_b"))
    sa = spark.read.parquet(spath).select(F.col("_id").alias("id_a"),
                                          F.col("sig").alias("sig_a"))
    sb = new_sig.select(F.col("_id").alias("id_b"),
                        F.col("sig").alias("sig_b"))
    # signature re-attachment scales with the batch too
    sb = F.broadcast(sb) if small_batch else sb.hint("merge")
    return (cand.join(sa, "id_a").join(sb, "id_b")
                .withColumn("est_jaccard", F.round(_est_jaccard(
                    F.col("sig_a"), F.col("sig_b"), cfg["n_hashes"]), 6))
                .where(F.col("est_jaccard") >= cfg["jaccard_threshold"])
                .select("id_a", "id_b", "est_jaccard")
                # crash-replay-duplicated sig rows in the store
                # re-expand the deduped candidates here — dedupe
                # AFTER attachment too (bounded: candidate-sized)
                .dropDuplicates(["id_a", "id_b"]))


def _phash_cross(spark, spath: str, stored: DataFrame, new_rows: DataFrame,
                 new_sig: DataFrame, cfg: dict,
                 small_batch: bool) -> DataFrame:
    """Phash cross-pair check: the 64-bit hashes ride in the block rows,
    so hamming is verified inside the probe join itself."""
    return _bucket_join(stored, new_rows, _BLOCK_KEY, None, [_hamming()],
                        (F.col("hamming") <= cfg["max_hamming"])
                        & (F.col("id_a") != F.col("id_b")))


# the pair functions are looked up at CALL time (not bound here), so a
# caller that swaps a module attribute (tracing, tests) reaches the stores
_MINHASH = _StoreKind(
    "minhash", "bands", _BAND_KEY,
    derive=lambda sig, c: band_table(sig, c["n_hashes"], c["bands"]),
    rows_per_sig=lambda c: c["bands"],
    cross=_minhash_cross,
    intra=lambda sig, c: minhash_pairs_from_sig(
        sig, c["n_hashes"], c["bands"], c["jaccard_threshold"],
        c["max_bucket"]))

_PHASH = _StoreKind(
    "phash", "blocks", _BLOCK_KEY,
    derive=lambda sig, c: pigeonhole_block_table(sig, c["max_hamming"]),
    rows_per_sig=lambda c: c["max_hamming"] + 1,
    cross=_phash_cross,
    intra=lambda sig, c: simhash_pairs_from_sig(sig, c["max_hamming"],
                                                c["max_bucket"]))


def build_minhash_store(docs: DataFrame, path: str, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 5,
                        n_hashes: int = 32, bands: int = 8) -> None:
    """Persist the corpus's minhash state: ``sigs`` (_id, sig) and the
    LSH ``bands`` table, plus a params sidecar.  One full pass at build;
    every :func:`incremental_minhash_pairs` batch afterwards touches the
    store only as (a) one SCAN of ``bands`` probed by a BROADCAST of the
    new batch's bands (the resident rows never shuffle), and (b) a
    semi-joined read of ``sigs`` bounded by the candidate count."""
    # store boundary: enforce the canonical integral-or-string id class
    _widened_id_type(docs.schema[id_col].dataType.simpleString(), id_col)
    _build_store(minhash_signatures_np(docs, text_col, id_col, k, n_hashes),
                 path, _MINHASH, {"k": k, "n_hashes": n_hashes, "bands": bands})


def incremental_minhash_pairs(spark, path: str, new_docs: DataFrame,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              jaccard_threshold: float = 0.6,
                              max_bucket: int = 200,
                              broadcast_threshold: int = 1_000_000):
    """Near-dup pairs of a NEW document batch against the persisted
    minhash store AND within the batch (see ``_store_pairs`` for the scale
    shape and the ``broadcast_threshold`` backfill fallback).  Returns
    ``(pairs, new_sig)``: pairs carry ``id_a``/``id_b``/``est_jaccard``
    with id_a from the store side for cross pairs (canonical id_a < id_b
    within the batch); ``new_sig`` is the batch signature table for
    :func:`append_to_minhash_store`."""
    return _store_pairs(
        spark, path, _MINHASH,
        lambda c: minhash_signatures_np(new_docs, text_col, id_col, c["k"],
                                        c["n_hashes"]),
        broadcast_threshold, jaccard_threshold=jaccard_threshold,
        max_bucket=max_bucket)


def append_to_minhash_store(spark, path: str, new_sig: DataFrame,
                            check_id_type: bool = True) -> int:
    """Append a batch's signatures + bands to the store (call with the
    ACCEPTED subset after dedup so rejected near-dups never pollute the
    store).  Returns the number of rows appended.  ``check_id_type=False``
    skips the resident-schema probe when the caller (the incremental
    paths) already ran it pre-sink — direct callers keep the chokepoint."""
    return _append_to_store(spark, path, new_sig, _MINHASH, check_id_type)


def incremental_dedup(spark, path: str, new_docs: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      jaccard_threshold: float = 0.6,
                      max_bucket: int = 200,
                      out_sink=None,
                      broadcast_threshold: int = 1_000_000) -> DataFrame:
    """Admission control for a new document batch against the minhash
    store (``_admit_to_store``): returns the accepted rows of
    ``new_docs``, whose signatures are appended after ``out_sink`` (if
    given) received them.  Re-submitting an already-accepted batch —
    same ids or fresh ids — rejects every row (its first copy now lives
    in the store)."""
    pairs, new_sig = incremental_minhash_pairs(
        spark, path, new_docs, text_col, id_col, jaccard_threshold,
        max_bucket, broadcast_threshold)
    return _admit_to_store(spark, path, new_docs, id_col, pairs, new_sig,
                           out_sink, append_to_minhash_store)


def _phash_sig(images: DataFrame, id_col: str, phash_col: str) -> DataFrame:
    """(_id, simhash) with ``_id`` at the store-stable widened type."""
    t = _widened_id_type(images.schema[id_col].dataType.simpleString(), id_col)
    return images.select(F.col(id_col).cast(t).alias("_id"),
                         F.col(phash_col).cast("long").alias("simhash"))


def build_phash_store(images: DataFrame, path: str,
                      id_col: str = "image_id", phash_col: str = "phash",
                      max_hamming: int = 3) -> None:
    """Persist the IMAGE corpus's phash state — the multimodal twin of
    :func:`build_minhash_store`: ``sigs`` (_id, simhash) plus the
    pigeonhole ``blocks`` table and a params sidecar."""
    _build_store(_phash_sig(images, id_col, phash_col), path, _PHASH,
                 {"max_hamming": max_hamming})


def incremental_phash_pairs(spark, path: str, new_images: DataFrame,
                            id_col: str = "image_id",
                            phash_col: str = "phash",
                            max_bucket: int = 200,
                            broadcast_threshold: int = 1_000_000):
    """Near-dup pairs of a new image batch vs the persisted phash store
    AND within the batch — the same core as
    :func:`incremental_minhash_pairs`, hamming verified JVM-side.
    Returns ``(pairs, new_sig)``."""
    return _store_pairs(
        spark, path, _PHASH,
        lambda c: _phash_sig(new_images, id_col, phash_col),
        broadcast_threshold, max_bucket=max_bucket)


def append_to_phash_store(spark, path: str, new_sig: DataFrame,
                          check_id_type: bool = True) -> int:
    """Image twin of :func:`append_to_minhash_store`."""
    return _append_to_store(spark, path, new_sig, _PHASH, check_id_type)


def incremental_phash_dedup(spark, path: str, new_images: DataFrame,
                            id_col: str = "image_id",
                            phash_col: str = "phash",
                            max_bucket: int = 200,
                            out_sink=None,
                            broadcast_threshold: int = 1_000_000
                            ) -> DataFrame:
    """Image admission control vs the persisted phash store — identical
    semantics to :func:`incremental_dedup` (same ``_admit_to_store``)."""
    pairs, new_sig = incremental_phash_pairs(
        spark, path, new_images, id_col, phash_col, max_bucket,
        broadcast_threshold)
    return _admit_to_store(spark, path, new_images, id_col, pairs, new_sig,
                           out_sink, append_to_phash_store)


def compact_store(spark, path: str, n_files: int = 8) -> dict:
    """Store maintenance (round-6 verdict #2): rewrite a minhash or phash
    signature store in place — dropping crash-replay-duplicated ``_id``
    rows (admission tolerates them; every scan pays for them forever) and
    coalescing the daily-append small files to ``n_files``.  The derived
    table (``bands``/``blocks``) is REGENERATED from the compacted sigs
    with the params sidecar, which both dedupes it and guarantees
    sig/derived consistency.  Admission and pair results are identical
    pre/post (duplicate rows are byte-identical replay copies — the
    same-id admission guard means a differing re-submission never reaches
    the store).  Returns file/row counts so operators see the reclaim.

    Crash ordering: both rewrites go to tmp dirs first, then swap derived
    THEN sigs — a crash between the swaps leaves new-derived/old-sigs,
    whose extra duplicate sig rows are exactly the state this function
    cleans (re-run to converge); queries stay correct throughout because
    pairs ``dropDuplicates`` and the hot-bucket guard ``countDistinct``.
    Each swap itself uses the shared two-rename protocol of
    ``similarity._swap_dir`` with ``_recover_swap`` restoring a
    mid-swap-crashed directory on the next call.  At deployment the whole
    rewrite is one transactional Iceberg ``rewrite_data_files`` —
    SCALE.md checkpoint row."""
    from .similarity import _count_data_files, _recover_swap, _swap_dir

    cfg = _store_params(spark, path)
    kind = _MINHASH if "n_hashes" in cfg else _PHASH
    spath, dpath = f"{path}/sigs", f"{path}/{kind.derived}"
    _recover_swap(spath)
    _recover_swap(dpath)
    files_before = _count_data_files(spath) + _count_data_files(dpath)
    sigs = spark.read.parquet(spath)
    rows_before = sigs.count()
    ded = sigs.dropDuplicates(["_id"]).coalesce(max(1, n_files))
    rows_after = ded.count()

    stmp, dtmp = spath + "__compact_tmp", dpath + "__compact_tmp"
    ded.write.mode("overwrite").parquet(stmp)
    kind.derive(spark.read.parquet(stmp), cfg) \
        .coalesce(max(1, n_files)).write.mode("overwrite").parquet(dtmp)

    for live, tmp in ((dpath, dtmp), (spath, stmp)):  # derived THEN sigs
        _swap_dir(live, tmp)
    return {"store": kind.name,
            "files_before": files_before,
            "files_after": _count_data_files(spath) + _count_data_files(dpath),
            "rows_before": rows_before, "rows_after": rows_after,
            "dup_rows_dropped": rows_before - rows_after}
