"""Deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Everything stays JVM-side (hash/array builtins) except nothing — even the
MinHash signatures are computed with ``transform``/``aggregate`` column
expressions over the shingle array, so whole-stage codegen applies and the
operators survive a 100× scale-up (the LSH band join is an equi-join on
(band, bucket-hash), which Spark shuffles by key — no cross product).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from alix_spark.analysis.simple import split_text, tokens_array

# MinHash permutation family h_i(x) = (a_i * x + b_i) mod 2^31-1.
# 31-bit universe keeps every intermediate product below 2^62, safe for
# Spark's int64 arithmetic under ANSI overflow checking.
_MERSENNE = (1 << 31) - 1


def _perm_params(n_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs via splitmix-ish integer mixing."""
    params = []
    state = seed
    for _ in range(n_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state | 1) % _MERSENNE
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE
        params.append((a, b))
    return params


def shingles(text_col, n: int = 3):
    """Array of n-token shingles (strings) from a text column."""
    toks = tokens_array(text_col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(F.size(toks) < n, F.array(F.array_join(toks, " "))).otherwise(
        F.array_distinct(
            F.transform(
                idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")
            )
        )
    )


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(content_hash, n_dups, keep_id) — exact duplicate groups by md5.

    The canonical survivor is the minimum doc id (deterministic).
    """
    return (
        docs.select(
            F.md5(F.col(text_col)).alias("content_hash"),
            F.col(id_col).alias("doc_id"),
        )
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(doc_id, sig: array<long>) MinHash signatures.

    Arrow-vectorized pandas UDF: shingle the token stream, hash each
    shingle with blake2b (deterministic across workers/runs), then take
    per-permutation minima with one numpy broadcast per document.

    (A pure column-expression formulation exists but expands to a 64-way
    ``transform`` tree that codegen digests ~50× slower than this kernel —
    measured at sf0.01.)

    Map-only — no shuffle; scales linearly with the corpus.
    """
    import hashlib

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    params = _perm_params(n_hashes, seed)
    a_vec = [a for a, _ in params]
    b_vec = [b for _, b in params]
    mersenne = _MERSENNE
    n_gram = shingle_n

    @pandas_udf(ArrayType(LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        a = np.array(a_vec, dtype=np.uint64)
        b = np.array(b_vec, dtype=np.uint64)
        out = []
        for text in texts:
            toks = split_text(text)
            if len(toks) < n_gram:
                shingle_set = {" ".join(toks)} if toks else {""}
            else:
                shingle_set = {
                    " ".join(toks[i : i + n_gram])
                    for i in range(len(toks) - n_gram + 1)
                }
            h = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.blake2b(s.encode(), digest_size=8).digest(),
                        "big",
                    )
                    % mersenne
                    for s in shingle_set
                ),
                dtype=np.uint64,
                count=len(shingle_set),
            )
            # (n_shingles, n_hashes) permuted values; min over shingles
            perm = (h[:, None] * a[None, :] + b[None, :]) % np.uint64(mersenne)
            out.append(perm.min(axis=0).astype(np.int64))
        return pd.Series(out)

    return docs.select(
        F.col(id_col).alias("doc_id"), sig_udf(F.col(text_col)).alias("sig")
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    bands: int = 16,
    rows: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH → (id_a, id_b, n_bands).

    Docs sharing ≥1 band bucket become candidates; the join is an
    equi-join on (band, bucket) so it shuffles by bucket — the scalable
    path (never an all-pairs comparison).

    ``max_bucket_size``: skip buckets holding more than this many docs —
    the 100 TB guard against boilerplate mega-buckets (license headers,
    generated files), where one bucket would otherwise go quadratic.
    Recall cost is bounded: a true near-dup pair collides in ~every band,
    so it still surfaces unless ALL of its buckets are mega (i.e. the
    docs are boilerplate — which exact dedup upstream should have
    collapsed). None = no cap.
    """
    # both join sides reference the same subtree: cache so the (UDF-backed)
    # signatures compute once
    signatures = signatures.cache()
    # validate against the ACTUAL signature length (one-row probe of the
    # cached frame): an out-of-range band makes F.slice return a short
    # array, every doc hashes to the same bucket, and LSH silently
    # degrades to a quadratic join.
    probe = signatures.select(F.size("sig").alias("n")).head(1)
    if probe and bands * rows > probe[0]["n"]:
        raise ValueError(
            f"bands*rows = {bands * rows} exceeds signature length "
            f"{probe[0]['n']}"
        )
    # bucket = xxhash64 of the band's sig slice, hashed as the ARRAY
    # itself: candidates are defined by slice EQUALITY, which any
    # deterministic injective-enough hash preserves; the previous
    # cast-to-string + array_join formulation built a ~80-char string
    # per (row, band) before hashing — pure codegen overhead (r7: the
    # string form was ~2/3 of the LSH step's time at sf1)
    banded = signatures.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.slice("sig", b * rows + 1, rows))
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    if max_bucket_size is not None:
        sizes = banded.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("_bsz")
        )
        banded = (
            banded.join(sizes, ["band", "bucket"])
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = banded.select(
        F.col("doc_id").alias("id_a"), "band", "bucket"
    )
    b = banded.select(
        F.col("doc_id").alias("id_b"), "band", "bucket"
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bands"))
    )


def minhash_jaccard_estimate(
    signatures: DataFrame, pairs: DataFrame
) -> DataFrame:
    """(id_a, id_b, jaccard_est) — fraction of equal signature slots."""
    sa = signatures.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = signatures.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard_est",
            F.round(
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda eq: eq,
                    )
                ).cast("double")
                / F.size("sig_a"),
                4,
            ),
        )
        .select("id_a", "id_b", "jaccard_est")
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    hash_fn: str = "blake2b",
) -> DataFrame:
    """(doc_id, simhash) — 64-bit SimHash over per-token hashes.

    Majority vote per bit: sum over tokens of (+1 / −1) per bit, sign →
    bit. Arrow-vectorized pandas UDF with one numpy ``unpackbits`` per
    document; map-only, no shuffle.

    ``hash_fn``: 'blake2b' (default) or 'md5' — the md5 variant hashes a
    token as the little-endian uint64 of md5-digest bytes 8..16, which is
    exactly DuckDB's ``md5_number_lower``, making the whole operator
    reproducible in SQL for oracle checks.
    """
    import hashlib

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    if hash_fn not in ("blake2b", "md5"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    n_bits = bits
    use_md5 = hash_fn == "md5"

    @pandas_udf(LongType())
    def sim_udf(texts: pd.Series) -> pd.Series:
        from collections import Counter

        # per-batch memo: token -> bit row (vocab << occurrences)
        bit_cache: dict[str, np.ndarray] = {}

        def token_bits(tok: str) -> np.ndarray:
            row = bit_cache.get(tok)
            if row is None:
                if use_md5:
                    # bit j == (md5_number_lower >> j) & 1: little-endian
                    # bit order over digest bytes 8..16
                    row = np.unpackbits(
                        np.frombuffer(
                            hashlib.md5(tok.encode()).digest()[8:16],
                            dtype=np.uint8,
                        ),
                        bitorder="little",
                    )[:n_bits]
                else:
                    row = np.unpackbits(
                        np.frombuffer(
                            hashlib.blake2b(
                                tok.encode(), digest_size=8
                            ).digest(),
                            dtype=np.uint8,
                        )
                    )[:n_bits]
                bit_cache[tok] = row
            return row

        out = np.zeros(len(texts), dtype=np.int64)
        for row_i, text in enumerate(texts):
            counts = Counter(split_text(text))
            if not counts:
                continue
            n_toks = sum(counts.values())
            votes = np.zeros(n_bits, dtype=np.int64)
            for tok, cnt in counts.items():
                votes += token_bits(tok).astype(np.int64) * cnt
            votes = votes * 2 - n_toks  # (+1/-1 majority sums)
            bits_out = (votes > 0).astype(np.uint8)
            # two's-complement wrap uint64 -> int64 (sign bit preserved)
            out[row_i] = np.packbits(bits_out).view(">u8")[0].astype(np.int64)
        return pd.Series(out)

    return docs.select(
        F.col(id_col).alias("doc_id"), sim_udf(F.col(text_col)).alias("simhash")
    )


def hamming_distance(col_a, col_b):
    """Hamming distance between two int64 hashes — bit_count(xor)."""
    return F.bit_count(col_a.bitwiseXOR(col_b))


def simhash_near_dups(
    sims: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) candidate pairs within a Hamming radius.

    Blocking: split the 64-bit hash into ``max_hamming + 1`` chunks — by
    pigeonhole, any pair within the radius shares at least one exact
    chunk; join per chunk (equi-join, scalable), then verify exactly.
    ``max_bucket_size`` skips chunk buckets above the cap (same
    mega-bucket guard as :func:`minhash_lsh_pairs`).
    """
    sims = sims.cache()  # referenced by both join sides
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    chunked = sims.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    if max_bucket_size is not None:
        sizes = chunked.groupBy("chunk_idx", "chunk").agg(
            F.count(F.lit(1)).alias("_bsz")
        )
        chunked = (
            chunked.join(sizes, ["chunk_idx", "chunk"])
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a = chunked.select(
        F.col("doc_id").alias("id_a"),
        F.col("simhash").alias("sim_a"),
        "chunk_idx",
        "chunk",
    )
    b = chunked.select(
        F.col("doc_id").alias("id_b"),
        F.col("simhash").alias("sim_b"),
        "chunk_idx",
        "chunk",
    )
    return (
        a.join(b, ["chunk_idx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sim_a", "sim_b")
        .distinct()
        .withColumn("hamming", hamming_distance(F.col("sim_a"), F.col("sim_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))
    )


def dedup_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Connected components over the near-duplicate pair graph →
    (doc_id, cluster), cluster = min doc id of the component — the
    survivor-selection step of a training-data dedup pipeline (each
    cluster keeps its canonical min-id doc).

    Distributed min-label propagation: every node repeatedly takes the
    minimum label among itself and its neighbours; converges in
    O(component diameter) rounds (near-dup components are shallow — LSH
    clusters are clique-ish). Each round is one join + one groupBy, all
    JVM-side; iteration stops early when no label changes. Raises if the
    cap is hit without convergence rather than returning wrong clusters.
    """
    edges = pairs.select(
        F.col(id_a).alias("a"), F.col(id_b).alias("b")
    )
    # localCheckpoint per round truncates the logical plan — iterative
    # self-referencing lineage otherwise grows exponentially and OOMs the
    # planner long before the data does
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nb = sym.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "label")
        new_labels = (
            labels.unionByName(nb)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("label", "old"), "node"
            )
            .filter(F.col("label") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iter} rounds"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidate_pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs → (id_a, id_b, jaccard).

    Verification stage after LSH blocking: joins each pair to its two
    shingle sets and computes |∩| / |∪| with array builtins.
    """
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        shingles(F.col(text_col), shingle_n).alias("sh"),
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        candidate_pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.round(inter / F.greatest(union, F.lit(1.0)), 4))
        .select("id_a", "id_b", "jaccard")
    )
