"""Deduplication operators for large-scale corpus curation.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket
join), SimHash, and n-gram Jaccard near-dup — all as declarative
DataFrame plans over generic (id, text) columns.  Hashes are md5-derived
(``conv(substr(md5(x),1,15),16,10)``) so results are portable across
engines (the DuckDB oracle computes the identical value), deterministic,
and partition-independent.

Scale notes: every stage is groupBy/join on derived keys — map-side
combine applies, no driver loops; LSH candidate generation is an
equi-join on band buckets (the classic shuffle-based design), and exact
dedup is one hash aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _h(col, salt: str | None = None):
    """Portable 60-bit hash: md5 hex prefix → bigint."""
    x = F.concat(F.lit(salt), col) if salt is not None else col
    return F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint")


def tokens(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(id cols…, tok) — lowercase, split on non-alphanumerics, drop
    empties.  The shared tokenization for all dedup/text operators (the
    oracle replicates it with regexp_split_to_array)."""
    return (df.withColumn(
        "tok", F.explode(F.split(F.lower(F.col(text_col)), r"[^0-9a-z]+")))
        .where(F.length("tok") > 0).drop(text_col))


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup → (text_hash, canonical_id, n_copies)."""
    return (df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
            .groupBy("text_hash")
            .agg(F.min(id_col).alias("canonical_id"),
                 F.count("*").alias("n_copies")))


def minhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", k: int = 16) -> DataFrame:
    """(id, h_idx, minhash) — k md5-salted min-hashes over the token set.
    Long format keeps the plan one explode + one groupBy.

    The ``.distinct()`` before the ×k explode is load-bearing: tokens
    repeat ~2.3× per doc on the bench corpus, and a min-aggregation
    without the dedup pays k× the md5 + explode volume on every
    duplicate occurrence (measured: dropping it regressed q15 2.1→3.3 s
    at sf0.1 on an idle host; reverted)."""
    toks = tokens(df.select(id_col, text_col), text_col).distinct()
    hashes = toks.select(
        id_col,
        F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("h_idx"),
        F.col("tok"))
    sig = (hashes
           .withColumn("h", _h(F.concat(F.col("h_idx").cast("string"),
                                        F.lit("|"), F.col("tok"))))
           .groupBy(id_col, "h_idx").agg(F.min("h").alias("minhash")))
    return sig


def lsh_candidate_pairs(signatures: DataFrame, id_col: str = "doc_id",
                        band_size: int = 4,
                        max_bucket: int | None = 1000) -> DataFrame:
    """MinHash-LSH: band the signature, bucket-join → candidate pairs
    (id_a < id_b).  Docs agreeing on all hashes of any band collide.

    ``max_bucket`` caps the self-join blowup on duplicate-heavy corpora:
    a bucket of n docs emits O(n²) pairs, so one bucket holding 1M exact
    dups would emit 10¹² rows.  Buckets larger than the cap are dropped
    (the same explicit hot-key handling as ``jaccard_pairs``' max_df and
    er.blocking_keys' max_block); members of an oversized bucket are by
    construction near-identical, so run ``exact_dedup`` first to collapse
    them if such buckets carry signal."""
    banded = (signatures
              .withColumn("band", (F.col("h_idx") / band_size).cast("int"))
              .groupBy(id_col, "band")
              .agg(F.md5(F.concat_ws(",", F.array_sort(
                  F.collect_list(F.concat_ws(":", "h_idx", "minhash"))
              ))).alias("bucket")))
    if max_bucket is not None:
        # agg + semi-join (not a count window): the partial aggregation
        # keeps a degenerate mega-bucket map-side-combined, and the semi
        # join's (band, bucket) exchange is AQE-skew-splittable where a
        # window partition would buffer the whole bucket in one task.
        w_cnt = (banded.groupBy("band", "bucket")
                 .agg(F.count("*").alias("_n"))
                 .where(F.col("_n") <= max_bucket)
                 .select("band", "bucket"))
        banded = banded.join(w_cnt, on=["band", "bucket"], how="left_semi")
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (a.join(b, on=["band", "bucket"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", threshold: float = 0.5,
                  min_token_len: int = 4, max_df: int = 50) -> DataFrame:
    """Token-set Jaccard near-dup: block on distinctive tokens
    (len ≥ min_token_len, document frequency ≤ max_df — hot-key cap),
    then exact Jaccard on the blocked pairs → (id_a, id_b, jac)."""
    toks = tokens(df.select(id_col, text_col), text_col).distinct()
    sizes = toks.groupBy(id_col).agg(F.count("*").alias("n_toks"))
    keys = (toks.where(F.length("tok") >= min_token_len)
            .join(toks.groupBy("tok").agg(F.count("*").alias("df"))
                  .where(F.col("df") <= max_df), on="tok"))
    a = keys.select(F.col(id_col).alias("id_a"), "tok")
    b = keys.select(F.col(id_col).alias("id_b"), "tok")
    cand = (a.join(b, on="tok").where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    inter = (cand
             .join(toks.select(F.col(id_col).alias("id_a"), "tok"), on="id_a")
             .join(toks.select(F.col(id_col).alias("id_b"), "tok"),
                   on=["id_b", "tok"])
             .groupBy("id_a", "id_b").agg(F.count("*").alias("n_inter")))
    return (inter
            .join(sizes.select(F.col(id_col).alias("id_a"),
                               F.col("n_toks").alias("n_a")), on="id_a")
            .join(sizes.select(F.col(id_col).alias("id_b"),
                               F.col("n_toks").alias("n_b")), on="id_b")
            .withColumn("jac", F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 4))
            .where(F.col("jac") >= threshold)
            .select("id_a", "id_b", "jac"))


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 16) -> DataFrame:
    """(id, simhash) — md5-derived ``bits``-bit SimHash over the token
    multiset (sign of per-bit vote, bit set when vote > 0)."""
    toks = tokens(df.select(id_col, text_col), text_col)
    bit_votes = (toks
                 .withColumn("h", _h(F.col("tok")))
                 .select(id_col, "h",
                         F.explode(F.array(*[F.lit(b) for b in range(bits)]))
                         .alias("bit"))
                 .withColumn("vote",
                             F.when(F.expr("shiftright(h, bit) & 1") == 1, 1)
                             .otherwise(-1))
                 .groupBy(id_col, "bit").agg(F.sum("vote").alias("v")))
    return (bit_votes
            .withColumn("contrib",
                        F.when(F.col("v") > 0,
                               F.expr("shiftleft(1L, bit)"))
                        .otherwise(F.lit(0).cast("bigint")))
            .groupBy(id_col).agg(F.sum("contrib").alias("simhash")))


def doc_fingerprint(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", shingle_words: int = 3) -> DataFrame:
    """(id, fingerprint) — min hash over word ``shingle_words``-grams: the
    classic content-defined document fingerprint.  Computed entirely
    row-local (split → transform → aggregate over the array): zero
    shuffles, order-deterministic (collect_list would not be)."""
    ts = F.filter(F.split(F.lower(F.col(text_col)), r"[^0-9a-z]+"),
                  lambda t: F.length(t) > 0)
    shingles = F.expr(
        f"transform(sequence(1, greatest(size(ts) - {shingle_words - 1}, 1)),"
        f" i -> array_join(slice(ts, i, {shingle_words}), ' '))")
    return (df.select(id_col, ts.alias("ts"))
            .select(id_col, F.explode(shingles).alias("shingle"))
            .withColumn("h", _h(F.col("shingle")))
            .groupBy(id_col).agg(F.min("h").alias("fingerprint")))


#: embedding row count up to which cosine_near_dup_pairs' auto gate
#: takes the numpy attach
COSINE_NP_ATTACH_MAX_ROWS = 200_000


def cosine_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.4,
                          n_bits: int = 4, band_bits: int = 2,
                          seed: int = 7, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          max_bucket: int | None = 100_000,
                          round_to: int = 4,
                          numpy_attach: bool | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded hyperplane LSH:
    (id_a, id_b, cosine) for every candidate pair with
    round(cosine, round_to) >= threshold.

    Blocking is the OR-construction over ``n_bits / band_bits`` bands of
    the seeded random-projection signature (simsearch.lsh_ivf_assign —
    deterministic, reproducible on any cluster layout): a pair is a
    candidate iff it agrees on ALL bits of AT LEAST ONE band, so recall
    per true pair is 1-(1-p^band_bits)^n_bands with p the per-plane
    agreement probability — never all-pairs.  Exact cosine is then
    computed only on candidates, entirely in whole-stage codegen
    (aggregate/zip_with), and band-duplicate candidates collapse in the
    final groupBy (map-side combine) rather than a vector-carrying
    distinct.

    Scale: the self-join is an equi-join on (band, band_value);
    ``max_bucket`` drops degenerate buckets (same hot-key cap as
    lsh_candidate_pairs / jaccard_pairs — a bucket of n rows emits
    O(n^2) pairs).  At 10^12 rows raise ``n_bits``/``band_bits`` so
    expected bucket size stays bounded; the plan shape is unchanged.

    ``numpy_attach`` (guide §4.2 / §8 "broadcast the plan"): when the
    embedding table is small enough to broadcast as a matrix (auto:
    row count ≤ :data:`COSINE_NP_ATTACH_MAX_ROWS`, 200k; collecting
    150k float vectors of dim 64 as Arrow peaked the driver's RSS
    198 MB higher), candidate pairs ship ONLY (id_a, id_b) into a
    mapInPandas kernel that gathers both vectors from the broadcast
    matrix and folds the dot product dimension-by-dimension —
    vectorized over the pair batch, sequential over dims, so each
    pair's accumulation order (and hence every output double) is
    BIT-IDENTICAL to the JVM ``aggregate(zip_with(...))`` fold.
    Rounding and thresholding stay JVM-side on the raw double.
    Measured 2.7 → 1.7 s at sf0.1 (875k candidate pairs, 2k vectors);
    above the cap the plan falls back to the JVM attach-join unchanged.
    The numpy path needs unique ids and equal-length vectors, and raises
    ``ValueError`` otherwise.
    """
    from .simsearch import _dot, _norm, lsh_ivf_assign

    assigned, _planes = lsh_ivf_assign(embeddings, n_bits=n_bits,
                                       seed=seed, vec_col=vec_col)
    if numpy_attach is None:
        # a row-count probe reads no vectors and stops at cap + 1 rows,
        # so no vector reaches the driver above the cap
        cap = COSINE_NP_ATTACH_MAX_ROWS
        numpy_attach = embeddings.limit(cap + 1).count() <= cap
    n_bands = n_bits // band_bits
    mask = (1 << band_bits) - 1
    band_vals = F.array(*[
        F.shiftright(F.col("list_id"), j * band_bits).bitwiseAND(F.lit(mask))
        for j in range(n_bands)])
    # hoist the double cast + norm to ONE evaluation per row: the pair
    # join fans each vector out O(bucket) times, so computing them
    # per-pair triples the HOF work on the hot path (measured 20.7 s →
    # ~8 s at sf0.1).  FP-identical to the per-pair form — same arrays,
    # same fold order, same `norm_a * norm_b` multiply order — so the
    # hash-exact DuckDB oracle is unaffected.
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ex_cols = [F.col(id_col)]
    if not numpy_attach:
        # vectors/norms ride the band explode only on the JVM attach
        # path; the numpy path keeps the blocking id-only
        ex_cols = [F.col(id_col), F.col("_vd"), F.col("_nrm")]
    ex = (assigned
          .withColumn("_vd", vec_d)
          .withColumn("_nrm", _norm(F.col("_vd")))
          .select(*ex_cols,
                  F.posexplode(band_vals).alias("band", "bval")))
    if max_bucket is not None:
        ok = (ex.groupBy("band", "bval")
              .agg(F.count("*").alias("_n"))
              .where(F.col("_n") <= max_bucket)
              .select("band", "bval"))
        ex = ex.join(ok, on=["band", "bval"], how="left_semi")
    # candidate ids first, vectors later: the band self-join fans a pair
    # out once per agreeing band and would compute the HOF dot product
    # (and shuffle the 64-double arrays) per copy; generating DISTINCT
    # (id_a, id_b) from an id-only join and re-attaching the hoisted
    # (_vd, _nrm) afterwards computes each cosine exactly once and keeps
    # vectors out of the widest shuffle.  FP-identical per pair (same
    # arrays, same fold order), so the hash-exact oracle is unaffected.
    a = ex.select(F.col(id_col).alias("id_a"), "band", "bval")
    b = ex.select(F.col(id_col).alias("id_b"), "band", "bval")
    cand = (a.join(b, on=["band", "bval"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    if numpy_attach:
        import numpy as np
        import pandas as pd
        import pyarrow.compute as pc
        from pyspark.sql import types as T

        # one Arrow collect, no Row objects: ids as Python values, the
        # vectors as one flat buffer widened to float64 like the JVM
        # path's cast to double (never narrowed through float32)
        t = embeddings.select(id_col, vec_col).toArrow()
        ids = t.column(id_col).to_pylist()
        vecs = t.column(vec_col).combine_chunks()
        lens = vecs.value_lengths()
        if vecs.null_count or pc.count_distinct(lens).as_py() > 1:
            raise ValueError(
                f"cosine_near_dup_pairs: null or ragged {vec_col} vectors; "
                "the numpy attach needs one dimension")
        dim = lens[0].as_py() if len(ids) else 0
        mat = (vecs.flatten().to_numpy(zero_copy_only=False)
               .astype(np.float64, copy=False).reshape(len(ids), dim))
        index = {x: i for i, x in enumerate(ids)}
        if len(index) != len(ids):
            # the JVM attach-join emits one row per duplicate combination;
            # an id -> row map cannot, so refuse rather than diverge
            raise ValueError(
                f"cosine_near_dup_pairs: duplicate {id_col} values; "
                "the numpy attach needs unique ids")
        # norms with the same left-to-right fold as the JVM _norm
        acc = np.zeros(mat.shape[0])
        for j in range(mat.shape[1]):
            acc = acc + mat[:, j] * mat[:, j]
        norms = np.sqrt(acc)
        bcast = embeddings.sparkSession.sparkContext.broadcast(
            (index, mat, norms))
        id_type = embeddings.schema[id_col].dataType
        raw_schema = T.StructType([
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("_raw", T.DoubleType()),
        ])

        def attach(batches):
            index_l, mat_l, norms_l = bcast.value
            for pdf in batches:
                ia = np.fromiter((index_l[x] for x in pdf["id_a"]),
                                 dtype=np.int64, count=len(pdf))
                ib = np.fromiter((index_l[x] for x in pdf["id_b"]),
                                 dtype=np.int64, count=len(pdf))
                va_m, vb_m = mat_l[ia], mat_l[ib]
                acc_p = np.zeros(len(pdf))
                for j in range(mat_l.shape[1]):
                    acc_p = acc_p + va_m[:, j] * vb_m[:, j]
                yield pd.DataFrame({
                    "id_a": pdf["id_a"].values,
                    "id_b": pdf["id_b"].values,
                    "_raw": acc_p / (norms_l[ia] * norms_l[ib])})

        return (cand.mapInPandas(attach, schema=raw_schema)
                .withColumn("cosine", F.round(F.col("_raw"), round_to))
                .where(F.col("cosine") >= threshold)
                .select("id_a", "id_b", "cosine"))
    vecs = (assigned
            .withColumn("_vd", vec_d)
            .withColumn("_nrm", _norm(F.col("_vd")))
            .select(id_col, "_vd", "_nrm"))
    va = vecs.select(F.col(id_col).alias("id_a"),
                     F.col("_vd").alias("_va"), F.col("_nrm").alias("_na"))
    vb = vecs.select(F.col(id_col).alias("id_b"),
                     F.col("_vd").alias("_vb"), F.col("_nrm").alias("_nb"))
    return (cand.join(va, on="id_a").join(vb, on="id_b")
            .withColumn("cosine",
                        F.round(_dot(F.col("_va"), F.col("_vb"))
                                / (F.col("_na") * F.col("_nb")), round_to))
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))
