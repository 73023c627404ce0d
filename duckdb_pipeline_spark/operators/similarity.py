"""Similarity search over embedding columns (north-star op).

Exact brute-force cosine as the baseline; label/bucket-blocked variants
as the scale path (the same code shape used for IVF: restrict the pair
space by a partition key before the distance computation).

Fixed-point contract (every kernel here, and the DuckDB oracles):

- an inner product is the exact integer sum of per-term
  ``floor(x * y * SCALE)``, each term computed in float64 as
  (x*y, then *SCALE, then floor). Integer sums are association-order
  free, so Spark and the oracle produce bitwise-identical scores
  (double->decimal casts are NOT portable at high scale — measured;
  see queries/common.py). In Spark SQL the sum is a BIGINT fold
  (`int_dot`); in numpy it is the float64 sum of `_fp_dots_f64`,
  which equals the integer sum bit for bit while every partial stays
  below 2^53: ``d * SCALE * max|x|^2 < 2^53``. `_fp_matrix` checks
  that envelope on every matrix entering a numpy kernel and raises
  ValueError past it.
- cosine = dot / (sqrt(dot(a, a)) * sqrt(dot(b, b))) on those exact
  integers, so the only rounding is the final division.
- ranking (IVF cells, probe lists, kNN candidates) is score desc,
  then the LOWEST id first (`_rank_desc`), matching the oracle's
  ``ORDER BY score DESC, id``.

Squared-L2 kernels (Lloyd, PQ/ADC, farthest-point) and the Gram
accumulator keep int64 sums: their terms are differences, or their
sums run across rows and batches past the float64 envelope.

Scale notes: the posexplode formulation shuffles (n_vectors × dim)
rows; for 100 TB-scale ANN the blocked variant prunes to
per-bucket brute force (IVF-style), and the `zip_with` fold variant
(`cosine_zip`) avoids the explode entirely when the pair list is
already bounded — it stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000  # fixed-point scale for exact integer sums

_PD_DTYPES = {"long": "int64", "int": "int32", "double": "float64", "string": "object"}


def _fp_dots_f64(A, B):
    """Sum over the last axis of floor(a * b * SCALE) (module contract),
    computed with ONE in-place temp chain instead of three fresh
    allocations (the naive ``np.floor(A * B * SCALE)`` materializes
    mult, scale, and floor temps — at a 256 x 2500 x 64 chunk that is
    3 x 330 MB per step and the kernel goes allocator-bound: measured
    9.3 s -> 2.6 s per SemDeDup cell). The only numpy inner-product
    kernel; operands must come from `_fp_matrix`."""
    import numpy as np

    t = np.multiply(A, B)
    np.multiply(t, SCALE, out=t)
    np.floor(t, out=t)
    return t.sum(axis=-1)


def _fp_matrix(pdf, vec_col: str):
    """The rows of ``pdf`` (an Arrow batch, or collected rows as a pandas
    frame) whose ``vec_col`` is not NULL, and their vectors as a float64
    matrix — shape (0, 0) when no row is left. Raises ValueError past the
    float64-sum envelope of the module contract."""
    import numpy as np

    pdf = pdf.dropna(subset=[vec_col])
    if not len(pdf):
        return pdf, np.empty((0, 0))
    V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
    amax = float(np.abs(V).max())
    if V.shape[1] * SCALE * amax * amax >= 2**53:
        raise ValueError(
            f"fixed-point float64-sum envelope exceeded: d={V.shape[1]} "
            f"SCALE={SCALE} max|x|={amax}"
        )
    return pdf, V


def _rank_desc(S, n: int):
    """Column indices of the first ``n`` entries of each row of score
    matrix ``S`` (or of a score vector) by score desc, then lowest
    column index — the module's ranking rule."""
    import numpy as np

    return np.argsort(-S, axis=-1, kind="stable")[..., :n]


def _pair_topk(ids_a, Va, ids_b, Vb, keep: int, chunk: int = 128):
    """Top-``keep`` fixed-point cosine candidates of every row of A
    against B, as flat (id, nbr, cosine) arrays: each A row's
    candidates are contiguous and in rank order. ``ids_b`` must ascend,
    so column order is nbr-id order for the tie rule. A and B are
    non-empty; memory is bounded O(chunk x |B| x dim)."""
    import numpy as np

    ra = np.sqrt(_fp_dots_f64(Va, Va))
    rb = np.sqrt(_fp_dots_f64(Vb, Vb))
    keep = min(keep, len(ids_b))
    out_i, out_n, out_c = [], [], []
    for lo in range(0, len(ids_a), chunk):
        cos = _fp_dots_f64(Va[lo : lo + chunk, None, :], Vb) / (
            ra[lo : lo + chunk, None] * rb[None, :]
        )
        idx = _rank_desc(cos, keep)
        out_i.append(np.repeat(ids_a[lo : lo + chunk], keep))
        out_n.append(ids_b[idx].reshape(-1))
        out_c.append(np.take_along_axis(cos, idx, axis=1).reshape(-1))
    return np.concatenate(out_i), np.concatenate(out_n), np.concatenate(out_c)


def _empty_frame(ddl: str):
    """Zero-row pandas frame typed by a Spark DDL string of long, int,
    double and string columns — an applyInPandas kernel's empty result."""
    import pandas as pd

    cols = (c.split() for c in ddl.split(","))
    return pd.DataFrame({n: pd.Series([], dtype=_PD_DTYPES[t]) for n, t in cols})


def int_dot(a, b):
    """Exact fixed-point dot product of two array<float> columns (module
    contract) as an in-row BIGINT fold: equal to the oracle's
    unnest-and-SUM formulation bit-for-bit while staying inside
    whole-stage codegen (no explode, no extra shuffle)."""
    terms = F.zip_with(
        a, b, lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(SCALE)).cast("long")
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _cosine_from_ints(dot_i, na_i, nb_i):
    return dot_i.cast("double") / (
        F.sqrt(na_i.cast("double")) * F.sqrt(nb_i.cast("double"))
    )


def _empty_topk(embeddings: DataFrame, id_col: str) -> DataFrame:
    """Empty (id, cosine) result for an absent query id — matches the
    relational formulations, which naturally yield zero rows there."""
    return embeddings.sparkSession.createDataFrame([], f"{id_col} long, cosine double")


def cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of one stored vector.

    Broadcast the single query row, fold the dot products in-row
    (int_dot), global top-k. One broadcast join, zero wide shuffles —
    scan-bound at any corpus size."""
    q = embeddings.where(F.col(id_col) == query_id).select(F.col(vec_col).alias("qv"))
    e = embeddings.select(id_col, vec_col)
    cos = e.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        _cosine_from_ints(
            int_dot(F.col(vec_col), F.col("qv")),
            int_dot(F.col(vec_col), F.col(vec_col)),
            int_dot(F.col("qv"), F.col("qv")),
        ).alias("cosine"),
    )
    return (
        cos.where(F.col(id_col) != query_id)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def cosine_pairs_blocked(
    embeddings: DataFrame,
    block_col: str = "label",
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs within blocking-key groups
    (IVF-style pruning: only same-bucket pairs are compared).

    The equi-join on the block key co-partitions the pair space; each
    pair's cosine folds in-row (int_dot) — the widest dataflow is the
    pair list itself, never pairs × dims. Norms are computed once per
    VECTOR (n rows) before the pair join, not once per pair (n² rows) —
    at 2k vectors / 200k pairs that's 3× less fold work."""
    with_norm = embeddings.select(
        F.col(id_col), F.col(block_col).alias("blk"), F.col(vec_col).alias("e")
    ).withColumn("nrm", int_dot(F.col("e"), F.col("e")))
    a = with_norm.select(
        F.col(id_col).alias("vec_a"), "blk", F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    b = with_norm.select(
        F.col(id_col).alias("vec_b"), "blk", F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    pairs = a.join(b, "blk").where(F.col("vec_a") < F.col("vec_b"))
    return pairs.select(
        "vec_a",
        "vec_b",
        _cosine_from_ints(
            int_dot(F.col("ea"), F.col("eb")), F.col("na"), F.col("nb")
        ).alias("cosine"),
    ).where(F.col("cosine") >= threshold)


def cosine_pairs_blocked_vectorized(
    embeddings: DataFrame,
    block_col: str = "label",
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk: int = 256,
) -> DataFrame:
    """Same semantics (and bitwise-identical output) as
    `cosine_pairs_blocked`, computed per-block in vectorized numpy via
    `applyInPandas`.

    Why this is the scale path: the join formulation materializes the
    full pair list (n² per block rows) through Arrow/shuffle before the
    distance filter. Here only the n block rows move; pairwise
    fixed-point terms are computed in C (numpy broadcast) and only the
    surviving pairs leave the task. Measured ~3x faster than the
    whole-stage-codegen join at 2k x 64 dims; at bigger blocks the gap
    widens with n².

    Memory is bounded O(chunk x n x dim) per task by chunking the
    row axis of the pair matrix — block size does not need to fit as
    n² x dim temporaries. Arithmetic: the module's fixed-point contract.
    """
    import numpy as np
    import pandas as pd

    ddl = "vec_a long, vec_b long, cosine double"

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # NULL embeddings drop out (the join formulation's NULL cosine
        # fails the >= threshold filter the same way)
        pdf, V = _fp_matrix(pdf.sort_values(id_col), vec_col)
        ids = pdf[id_col].to_numpy()
        n = len(ids)
        if n < 2:
            return _empty_frame(ddl)
        rs = np.sqrt(_fp_dots_f64(V, V))
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            # columns restricted to >= lo: every kept pair has
            # vec_a < vec_b, so the sub-lo columns of this row chunk
            # were pure waste — halves the dominant floor/multiply
            # term on average; the computed terms for kept pairs are
            # the SAME IEEE ops, so output stays bitwise-identical
            dots = _fp_dots_f64(V[lo:hi, None, :], V[None, lo:, :])
            cos = dots / (rs[lo:hi, None] * rs[None, lo:])
            ia, ib = np.nonzero(cos >= threshold)
            keep = ia < ib  # upper triangle: (ia + lo) < (ib + lo)
            out_a.append(ids[ia[keep] + lo])
            out_b.append(ids[ib[keep] + lo])
            out_c.append(cos[ia[keep], ib[keep]])
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return (
        embeddings.select(id_col, block_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(block_pairs, ddl)
    )


def cosine_topk_vectorized(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bitwise-identical to `cosine_topk`, with the per-row fold done
    in vectorized numpy (mapInPandas): Spark's higher-order-function
    lambdas (`zip_with`/`aggregate`) evaluate interpreted per element —
    3 folds x dim ops per row dominate at scale. Here each Arrow batch
    does two matrix ops in C. The query vector is fetched once (one
    1-row job) and closure-captured — it never rides along per row."""
    import numpy as np
    import pandas as pd

    qrows = embeddings.where(F.col(id_col) == query_id).select(vec_col).take(1)
    _, Q = _fp_matrix(pd.DataFrame(qrows, columns=[vec_col]), vec_col)
    if not len(Q):
        return _empty_topk(embeddings, id_col)
    qv = Q[0]
    rq = np.sqrt(_fp_dots_f64(qv, qv))

    def score(batches):
        for pdf in batches:
            pdf, V = _fp_matrix(pdf, vec_col)
            if not len(pdf):
                continue
            cos = _fp_dots_f64(V, qv) / (np.sqrt(_fp_dots_f64(V, V)) * rq)
            yield pd.DataFrame({id_col: pdf[id_col], "cosine": cos})

    scored = embeddings.select(id_col, vec_col).mapInPandas(
        score, f"{id_col} long, cosine double"
    )
    return (
        scored.where(F.col(id_col) != query_id)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def lsh_hyperplanes(n_bits: int = 8, dim: int = 64) -> list[list[int]]:
    """Deterministic ±1 random-hyperplane weights, derived from md5 so
    any engine (or an oracle SQL string generated from these constants)
    agrees bit-for-bit: w[j][i] = +1 iff the low bit of the first hex
    nibble of md5("j:i") is set."""
    import hashlib

    return [
        [
            1 if (int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) & 1) else -1
            for i in range(dim)
        ]
        for j in range(n_bits)
    ]


def lsh_bucket_codes(
    embeddings: DataFrame,
    planes: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out: str = "bucket",
) -> DataFrame:
    """Random-hyperplane LSH bucket code per vector: bit j = sign of
    the fixed-point projection onto plane j. Projections are integer
    sums of floor(x*SCALE)*w — exact and association-free, so bucket
    assignment is deterministic across engines and partitionings.

    Scale: this is a pure map (no shuffle). At 100 TB the embedding
    table is written bucketed/partitioned by this code once, and every
    ANN query prunes to one (or a few) buckets — the IVF/LSH index as
    a layout, not a data structure."""
    code = None
    for j, w in enumerate(planes):
        warr = F.array(*[F.lit(x) for x in w])
        proj = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                warr,
                lambda x, wv: F.floor(x.cast("double") * F.lit(SCALE)).cast("long") * wv,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )
        bit = F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        code = bit if code is None else code + bit
    return embeddings.select(F.col(id_col), F.col(vec_col), code.alias(out))


def lsh_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_bits: int = 8,
    dim: int = 64,
    multiprobe: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k cosine neighbors via LSH bucket pruning:
    candidates = vectors sharing the query's bucket code (multiprobe
    additionally probes all codes at Hamming distance 1 — ~n_bits×
    the candidates, much higher recall), then exact fixed-point cosine
    top-k among candidates only.

    vs `cosine_topk` (brute force): the candidate set shrinks by
    ~2^n_bits; with a bucket-partitioned layout the scan itself prunes
    to the probed partitions."""
    planes = lsh_hyperplanes(n_bits, dim)
    coded = lsh_bucket_codes(embeddings, planes, id_col, vec_col)
    q = coded.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("qv"), F.col("bucket").alias("qb")
    )
    cand = coded.crossJoin(F.broadcast(q))
    if multiprobe:
        probe_ok = F.col("bucket") == F.col("qb")
        for j in range(n_bits):
            probe_ok = probe_ok | (
                F.col("bucket") == F.col("qb").bitwiseXOR(F.lit(1 << j))
            )
        cand = cand.where(probe_ok)
    else:
        cand = cand.where(F.col("bucket") == F.col("qb"))
    cos = cand.select(
        F.col(id_col),
        _cosine_from_ints(
            int_dot(F.col(vec_col), F.col("qv")),
            int_dot(F.col(vec_col), F.col(vec_col)),
            int_dot(F.col("qv"), F.col("qv")),
        ).alias("cosine"),
    )
    return (
        cos.where(F.col(id_col) != query_id)
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def lsh_topk_vectorized(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_bits: int = 8,
    dim: int = 64,
    multiprobe: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bitwise-identical to `lsh_topk`, in ONE vectorized map pass:
    bucket codes AND candidate cosines are computed per Arrow batch in
    numpy (int64 matmul for the fixed-point projections — the
    `zip_with`/`aggregate` HOF formulation evaluates interpreted per
    element, n_bits × dim ops per row; round-1 verdict's top
    similarity cost). The query's vector and bucket are derived once
    driver-side (one 1-row job) and closure-captured.

    Scale shape: a pure map over the embedding table + global top-k —
    no shuffle besides the final k-row TakeOrdered. With a
    bucket-partitioned layout the scan itself would prune instead of
    the in-map filter."""
    import numpy as np
    import pandas as pd

    W = np.asarray(lsh_hyperplanes(n_bits, dim), dtype="int64")  # (bits, dim)
    bitpow = np.int64(1) << np.arange(n_bits, dtype=np.int64)

    qrows = embeddings.where(F.col(id_col) == query_id).select(vec_col).take(1)
    _, Q = _fp_matrix(pd.DataFrame(qrows, columns=[vec_col]), vec_col)
    if not len(Q):
        return _empty_topk(embeddings, id_col)
    qv = Q[0]
    qi = np.floor(qv * SCALE).astype("int64")
    qb = int((( (qi @ W.T) >= 0).astype(np.int64) * bitpow).sum())
    rq = np.sqrt(_fp_dots_f64(qv, qv))

    def score(batches):
        for pdf in batches:
            pdf, V = _fp_matrix(pdf, vec_col)
            if not len(pdf):
                continue
            Vi = np.floor(V * SCALE).astype("int64")
            codes = (((Vi @ W.T) >= 0).astype(np.int64) * bitpow).sum(axis=1)
            if multiprobe:
                x = codes ^ qb
                hamming = ((x[:, None] >> np.arange(n_bits)) & 1).sum(axis=1)
                ok = hamming <= 1
            else:
                ok = codes == qb
            ok &= pdf[id_col].to_numpy() != query_id
            Vs = V[ok]
            cos = _fp_dots_f64(Vs, qv) / (np.sqrt(_fp_dots_f64(Vs, Vs)) * rq)
            yield pd.DataFrame({id_col: pdf[id_col].to_numpy()[ok], "cosine": cos})

    scored = embeddings.select(id_col, vec_col).mapInPandas(
        score, f"{id_col} long, cosine double"
    )
    return scored.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def cosine_zip(df: DataFrame, vec_a: str, vec_b: str, out: str = "cosine") -> DataFrame:
    """Codegen-friendly cosine between two array columns on one row
    (`zip_with` + `aggregate` fold — no explode, no shuffle). The fast
    path for bounded candidate lists; not oracle-exact (sequential
    float fold), hence used in benchmarks and pipelines, not in the
    hash-checked queries."""
    dot = F.aggregate(
        F.zip_with(F.col(vec_a), F.col(vec_b), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.aggregate(
        F.transform(F.col(vec_a), lambda x: x.cast("double") * x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nb = F.aggregate(
        F.transform(F.col(vec_b), lambda x: x.cast("double") * x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return df.withColumn(out, dot / (F.sqrt(na) * F.sqrt(nb)))


def ivf_topk_vectorized(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the third ANN strategy
    next to brute-force (`cosine_topk*`) and LSH (`lsh_topk*`):

    1. coarse quantizer: ``n_cells`` centroids. Deterministic stand-in
       here: the embeddings of the ``n_cells`` smallest ids (at real
       scale the centroids come from a k-means sample; everything
       downstream — assignment, probing, re-ranking — is identical).
    2. cell assignment: the top cell by fixed-point inner product (module
       contract; ties to the smallest cell id). Inner-product cells =
       the Faiss IVFFlat/METRIC_INNER_PRODUCT variant.
    3. probe: score the query against the centroids the same way, take
       the top ``n_probe`` cells.
    4. exact fixed-point cosine re-rank inside the probed cells only.

    Scale shape: assignment is a pure map (numpy matmul per Arrow
    batch); at corpus scale the cell id becomes the table's partition
    key, so probing prunes the SCAN (partition pruning) instead of
    filtering in-map — same plan shape as `lsh_topk_vectorized`.
    The centroid matrix and query vector are fetched once (one bounded
    sub-linear job, `_ivf_centroids_and_query`) and closure-captured."""
    import numpy as np
    import pandas as pd

    C, (qv,) = _ivf_centroids_and_query(
        embeddings, [query_id], n_cells, id_col, vec_col
    )
    if qv is None:
        return _empty_topk(embeddings, id_col)
    rq = np.sqrt(_fp_dots_f64(qv, qv))
    probe = _rank_desc(_fp_dots_f64(qv, C), n_probe)

    def score(batches):
        for pdf in batches:
            pdf, V = _fp_matrix(pdf, vec_col)
            if not len(pdf):
                continue
            cells = _rank_desc(_fp_dots_f64(V[:, None, :], C), 1)[:, 0]
            ok = np.isin(cells, probe) & (pdf[id_col].to_numpy() != query_id)
            Vs = V[ok]
            cos = _fp_dots_f64(Vs, qv) / (np.sqrt(_fp_dots_f64(Vs, Vs)) * rq)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy()[ok],
                    "cell": cells[ok].astype("int32"),
                    "cosine": cos,
                }
            )

    scored = embeddings.select(id_col, vec_col).mapInPandas(
        score, f"{id_col} long, cell int, cosine double"
    )
    return (
        scored.select(id_col, "cell", "cosine")
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# IVF with a REALIZED partitioned layout: the docstring above promises
# that "at corpus scale the cell id becomes the table's partition key,
# so probing prunes the SCAN" — these helpers make that true. The index
# is the embedding table written parquet-partitioned by cell id;
# probing reads it with `cell IN (probed)`, which Spark turns into
# partition pruning: only the probed cell directories are listed and
# scanned (PartitionFilters in the plan, asserted by
# tests/test_plans.py). At 100 TB with n_cells=4096 / n_probe=64 this
# reads 64/4096 of the table instead of all of it.
# ---------------------------------------------------------------------------


def _ivf_centroids_and_query(
    embeddings: DataFrame,
    query_ids,
    n_cells: int,
    id_col: str,
    vec_col: str,
):
    """Fetch the deterministic centroid matrix (the vectors of ids
    0..n_cells-1) and the vectors of ``query_ids`` in ONE bounded driver
    job — n_cells + len(query_ids) rows. Returns ``(C, [vector or None
    per query id])``; a query id with no row or a NULL vector gets
    None."""
    import numpy as np
    import pandas as pd

    qids = [int(q) for q in query_ids]
    cond = F.col(id_col) < n_cells
    if qids:
        cond = cond | F.col(id_col).isin(qids)
    rows = embeddings.where(cond).select(id_col, vec_col).collect()
    pdf, V = _fp_matrix(pd.DataFrame(rows, columns=[id_col, vec_col]), vec_col)
    by_id = dict(zip(pdf[id_col].tolist(), V))
    cell_ids = sorted(i for i in by_id if i < n_cells)
    # row position in C must equal the cell id the SQL oracle computes
    # with; a sparse id space would silently skew assignment (ADVICE
    # r7) — fail loudly instead.
    if cell_ids != list(range(n_cells)):
        raise ValueError(
            f"IVF centroid ids must be dense 0..{n_cells - 1}; got {cell_ids}"
        )
    C = np.stack([by_id[i] for i in cell_ids])
    return C, [by_id.get(q) for q in qids]


def _assign_cells(
    rows: DataFrame, C, n: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vector, cell, rank) for every row of ``rows`` with a non-NULL
    vector, once per its top-``n`` cells of centroid matrix ``C`` by
    fixed-point inner product (module contract); rank 0 is the row's own
    cell. A pure Arrow-batch map."""
    import numpy as np

    def assign(batches):
        for pdf in batches:
            pdf, V = _fp_matrix(pdf, vec_col)
            if not len(pdf):
                continue
            top = _rank_desc(_fp_dots_f64(V[:, None, :], C), n)
            out = pdf.loc[pdf.index.repeat(top.shape[1])].copy()
            out["cell"] = top.reshape(-1).astype("int32")
            out["rank"] = np.tile(np.arange(top.shape[1], dtype="int32"), len(pdf))
            yield out

    rows = rows.select(id_col, vec_col)
    schema = rows.schema.simpleString()[7:-1]
    return rows.mapInPandas(assign, f"{schema}, cell int, rank int")


def ivf_write_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> None:
    """Build the IVF index: assign every vector its cell (same cell
    rule as `ivf_topk_vectorized`) and write the table
    parquet-partitioned by cell id. One pass over the data; the
    assignment is a pure Arrow-batch map. Run once per corpus version —
    the ANN query path (`ivf_topk_pruned`) then partition-prunes.

    ``centroids``: explicit (n_cells, dim) float64 matrix for corpora
    whose ids are not dense from 0 (e.g. a SUBSET slice being indexed
    for incremental probing — `knn_probe_index` re-reads the same
    matrix as the index's lowest-id rows, so pass those)."""
    import numpy as np

    if centroids is not None:
        C = np.asarray(centroids, dtype="float64")
    else:
        C, _ = _ivf_centroids_and_query(embeddings, [], n_cells, id_col, vec_col)
    assigned = _assign_cells(embeddings, C, 1, id_col, vec_col).drop("rank")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(path)


def ivf_topk_pruned(
    spark,
    index_path: str,
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over the partitioned index: probe cell selection on
    the driver (centroid matrix is n_cells rows), then a scan of ONLY
    the probed partitions (`cell IN (...)` -> PartitionFilters) with the
    exact fixed-point cosine re-rank inside. Result is identical to
    `ivf_topk_vectorized` — same centroids, same assignment, same
    re-rank — the physical plan just reads n_probe/n_cells of the data.
    """
    import numpy as np
    import pandas as pd

    C, (qv,) = _ivf_centroids_and_query(
        embeddings, [query_id], n_cells, id_col, vec_col
    )
    if qv is None:
        return _empty_topk(embeddings, id_col)
    rq = np.sqrt(_fp_dots_f64(qv, qv))
    probe = _rank_desc(_fp_dots_f64(qv, C), n_probe).tolist()

    idx = spark.read.parquet(index_path)

    def rerank(batches):
        for pdf in batches:
            pdf, V = _fp_matrix(pdf[pdf[id_col] != query_id], vec_col)
            if not len(pdf):
                continue
            cos = _fp_dots_f64(V, qv) / (np.sqrt(_fp_dots_f64(V, V)) * rq)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cell": pdf["cell"].to_numpy().astype("int32"),
                    "cosine": cos,
                }
            )

    probed = idx.where(F.col("cell").isin(probe))  # partition-pruned scan
    scored = probed.select(id_col, vec_col, "cell").mapInPandas(
        rerank, f"{id_col} long, cell int, cosine double"
    )
    return (
        scored.orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def ann_recall_audit(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN acceptance audit: recall@k of the IVF probe against the
    brute-force ground truth for a bounded, deterministic query sample
    — the vector-side mirror of the planted-twin LSH audit
    (queries/dedup.dedup_recall_report). One row per query:
    (query_id, n_true, n_hit, recall_pct).

    Scale shape — ONE corpus pass for BOTH sides: the centroid matrix
    and the sampled query vectors are fetched in one bounded driver job
    (audit sample + n_cells rows) and closure-captured; a single
    mapInPandas pass then scores every Arrow batch against all queries
    at once (one C matmul per batch), assigns each row its IVF cell,
    and emits only PER-BATCH PARTIAL top-k rows per (query, side) —
    'bf' (all rows) and 'ivf' (rows whose cell is in that query's probe
    set). The global exact top-k per (query, side) is then a window
    over <= |queries| * 2 * k * n_partitions rows — the classic
    distributed top-k: corpus never shuffles, partials do. Everything
    downstream of the window is counting on <= |queries| * 2 * k rows.

    All scoring follows the module's fixed-point contract, with total
    order (cosine DESC, id) — bitwise-reproducible and oracle-portable.
    Recall is n_hit / n_true where n_true = |bf top-k| (== k except in
    degenerate tiny corpora)."""
    import numpy as np
    import pandas as pd

    qset = sorted(set(query_ids))
    C, qvecs = _ivf_centroids_and_query(embeddings, qset, n_cells, id_col, vec_col)
    live = [(q, v) for q, v in zip(qset, qvecs) if v is not None]
    if not live:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, n_true long, n_hit long, recall_pct double"
        )
    qids = np.asarray([q for q, _ in live], dtype="int64")
    Qm = np.stack([v for _, v in live])  # (Q, dim)
    rq = np.sqrt(_fp_dots_f64(Qm, Qm))
    probes = _rank_desc(_fp_dots_f64(Qm[:, None, :], C), n_probe)  # (Q, n_probe)

    def partials(batches):
        for pdf in batches:
            # id order makes column index order id order for _rank_desc
            pdf, V = _fp_matrix(pdf.sort_values(id_col, kind="stable"), vec_col)
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy().astype("int64")
            cells = _rank_desc(_fp_dots_f64(V[:, None, :], C), 1)[:, 0]
            cos = _fp_dots_f64(V[:, None, :], Qm) / (
                np.sqrt(_fp_dots_f64(V, V))[:, None] * rq[None, :]
            )  # (rows, Q)
            out_q, out_i, out_s, out_c = [], [], [], []
            for j, q in enumerate(qids):
                keep = ids != q
                for side, mask in (
                    ("bf", keep),
                    ("ivf", keep & np.isin(cells, probes[j])),
                ):
                    # partial top-k by (cosine DESC, id ASC): the batch's
                    # prefix of the global order
                    mi = np.nonzero(mask)[0]
                    sel = mi[_rank_desc(cos[mi, j], k)]
                    out_q.extend([q] * len(sel))
                    out_i.extend(ids[sel].tolist())
                    out_s.extend([side] * len(sel))
                    out_c.extend(cos[sel, j].tolist())
            yield pd.DataFrame(
                {
                    "query_id": pd.Series(out_q, dtype="int64"),
                    id_col: pd.Series(out_i, dtype="int64"),
                    "side": pd.Series(out_s, dtype="object"),
                    "cosine": pd.Series(out_c, dtype="float64"),
                }
            )

    from pyspark.sql import Window

    part = embeddings.select(id_col, vec_col).mapInPandas(
        partials, f"query_id long, {id_col} long, side string, cosine double"
    )
    w = Window.partitionBy("query_id", "side").orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    topk = part.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    flags = topk.groupBy("query_id", id_col).agg(
        F.max((F.col("side") == "bf").cast("int")).alias("in_bf"),
        F.max((F.col("side") == "ivf").cast("int")).alias("in_ivf"),
    )
    return (
        flags.groupBy("query_id")
        .agg(
            F.sum("in_bf").cast("long").alias("n_true"),
            F.sum(F.col("in_bf") * F.col("in_ivf")).cast("long").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_true",
            "n_hit",
            F.round(100.0 * F.col("n_hit") / F.col("n_true"), 6).alias("recall_pct"),
        )
        .orderBy("query_id")
    )


def gram_matrix_partials(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    chunk: int = 512,
) -> DataFrame:
    """Per-partition partial second-moment (Gram) matrix of an
    embedding column: each task folds its rows into ONE d x d int64
    accumulator (the map-side combine of distributed PCA/whitening —
    X^T X partials are what a 1000-executor covariance computation
    ships to the reducer, d^2 numbers per task no matter how many
    vectors the task scanned). Emits the upper triangle as
    (i, j, s, n) rows, 1-based indices, i <= j; terms follow the
    module's fixed-point contract — floor(x_i * x_j * SCALE) in
    float64, summed as int64, so partials re-aggregate exactly and the
    result is bitwise-identical to the oracle's unnest-and-SUM
    formulation regardless of row order or partitioning.

    Memory is bounded O(chunk * d^2) per task by chunking the row axis
    of the outer-product tensor; NULL embeddings drop out (matching
    the SQL formulation's NULL-element behavior under WHERE e IS NOT
    NULL)."""
    import numpy as np
    import pandas as pd

    def fold(batches):
        acc = None
        n = 0
        for pdf in batches:
            col = pdf[vec_col].dropna()
            if not len(col):
                continue
            V = np.stack(col.to_numpy()).astype("float64")
            if acc is None:
                d = V.shape[1]
                acc = np.zeros((d, d), dtype="int64")
            n += len(V)
            for lo in range(0, len(V), chunk):
                W = V[lo : lo + chunk]
                acc += (
                    np.floor(W[:, :, None] * W[:, None, :] * float(SCALE))
                    .astype("int64")
                    .sum(axis=0)
                )
        if acc is None:
            return
        d = acc.shape[0]
        iu, ju = np.triu_indices(d)
        yield pd.DataFrame(
            {
                "i": (iu + 1).astype("int32"),
                "j": (ju + 1).astype("int32"),
                "s": acc[iu, ju],
                "n": np.full(len(iu), n, dtype="int64"),
            }
        )

    return embeddings.select(vec_col).mapInPandas(
        fold, "i int, j int, s long, n long"
    )


def lloyd_step_partials(
    embeddings: DataFrame,
    centroids,
    cell_ids,
    vec_col: str = "embedding",
    chunk: int = 1024,
    emit_inertia: bool = False,
) -> DataFrame:
    """Fused assign-and-partially-update kernel for one Lloyd k-means
    iteration: each task assigns its rows to the nearest of K
    broadcast centroids (exact fixed-point squared L2 — floor((x-c)^2
    * SCALE) int64 sums, ties to the LOWER cell id) and folds member
    components into per-cell fixed-point sums, emitting K * d partial
    rows per task. This is the real distributed Lloyd shape: the only
    shuffle moves K * d numbers per task, and the reducer adds exact
    ints — identical semantics (and bitwise-identical distances) to
    the relational crossJoin + struct-min formulation, which evaluates
    its zip_with/aggregate lambdas interpreted per element (the ADC
    HOF lesson; measured 2.3 -> 0.66 s at sf1).

    `centroids` is a K x d float64 array and `cell_ids` the matching
    ascending cell labels — K rows collected at plan build (the
    bounded IVF-centroid precedent). NULL embeddings drop out.

    ``emit_inertia=True`` additionally emits ONE (cell=-1, i=0) row
    per task carrying the task's exact int64 sum of assigned (minimum)
    distances — the per-task inertia partial the k-means trainer's
    stopping rule aggregates, riding the same K*d-row shuffle."""
    import numpy as np
    import pandas as pd

    C = np.asarray(centroids, dtype="float64")
    ids = np.asarray(cell_ids, dtype="int64")
    order = np.argsort(ids)
    C, ids = C[order], ids[order]  # argmin's first-minimum = lowest id
    k, d = C.shape

    def fold(batches):
        sums = np.zeros((k, d), dtype="int64")
        counts = np.zeros(k, dtype="int64")
        inertia = 0
        for pdf in batches:
            col = pdf[vec_col].dropna()
            if not len(col):
                continue
            V = np.stack(col.to_numpy()).astype("float64")
            for lo in range(0, len(V), chunk):
                W = V[lo : lo + chunk]
                D = (
                    np.floor(
                        (W[:, None, :] - C[None, :, :]) ** 2 * float(SCALE)
                    )
                    .astype("int64")
                    .sum(axis=2)
                )
                a = D.argmin(axis=1)
                if emit_inertia:
                    inertia += int(D.min(axis=1).sum())
                Wf = np.floor(W * float(SCALE)).astype("int64")
                for c in range(k):
                    m = a == c
                    if m.any():
                        sums[c] += Wf[m].sum(axis=0)
                        counts[c] += int(m.sum())
        hit = counts > 0
        cells = np.repeat(ids[hit], d)
        comp = np.tile(np.arange(1, d + 1, dtype="int32"), int(hit.sum()))
        out = pd.DataFrame(
            {
                "cell": cells,
                "i": comp,
                "s": sums[hit].reshape(-1),
                "n": np.repeat(counts[hit], d),
            }
        )
        if emit_inertia and counts.sum() > 0:
            out = pd.concat(
                [
                    out,
                    pd.DataFrame(
                        {
                            "cell": pd.Series([-1], dtype="int64"),
                            "i": pd.Series([0], dtype="int32"),
                            "s": pd.Series([inertia], dtype="int64"),
                            "n": pd.Series([int(counts.sum())], dtype="int64"),
                        }
                    ),
                ],
                ignore_index=True,
            )
        yield out

    return embeddings.select(vec_col).mapInPandas(
        fold, "cell long, i int, s long, n long"
    )


def knn_join_partials(
    embeddings: DataFrame,
    k: int = 3,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed EXACT k-NN JOIN partials: every vector meets every
    other through a block-nested-loop, with per-block top-k pruning so
    only O(n * n_blocks * k) candidate rows ever leave the tasks.

    Shape (the reason this survives 100 TB where a crossJoin cannot):
    both sides are split into ``n_blocks`` hash blocks on the id; the
    probe side is replicated across the build side's block axis (and
    vice versa), so ONE shuffle of 2 * n * n_blocks vector rows lands
    every (a-block, b-block) cell in its own task. Each task scores
    n/B x n/B pairs in a chunked numpy kernel (memory bounded
    O(chunk * n/B * dim), never the full pair matrix) and emits only
    its local top-(k+1) per probe row. The global top-k per vector is
    contained in the union of per-block top-ks, so the downstream
    merge (one per-id window over n * B * (k+1) skinny rows) is exact
    — no corpus-scale pair list, no driver collect, no broadcast of
    the corpus. Growing the corpus grows B; per-task work stays
    n/B x n/B.

    Per-block candidates are top-(k+1) by the module's ranking rule
    INCLUDING a possible self-pair, which is then dropped — taking one
    extra guarantees >= k non-self survivors per block without
    perturbing any kept cosine value (no -inf masking touches the
    floats, so the fixed-point contract holds bitwise).

    Returns partial rows (vec_id, nbr_id, cosine); callers apply the
    exact merge (see queries.similarity.knn_join_topk)."""
    import pandas as pd

    B = int(n_blocks)
    emb = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).where(F.col(vec_col).isNotNull())
    rep = F.explode(F.expr(f"sequence(0, {B - 1})"))
    a = (
        emb.select(
            F.pmod(F.col("id"), F.lit(B)).alias("ablk"), "id", "vec"
        )
        .withColumn("bblk", rep)
        .withColumn("side", F.lit(0))
    )
    b = (
        emb.select(
            F.pmod(F.col("id"), F.lit(B)).alias("bblk"), "id", "vec"
        )
        .withColumn("ablk", rep)
        .withColumn("side", F.lit(1))
    )
    both = a.select("ablk", "bblk", "side", "id", "vec").unionByName(
        b.select("ablk", "bblk", "side", "id", "vec")
    )
    ddl = "vec_id long, nbr_id long, cosine double"

    def block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        A, Va = _fp_matrix(pdf[pdf["side"] == 0], "vec")
        Bp, Vb = _fp_matrix(pdf[pdf["side"] == 1].sort_values("id"), "vec")
        if not len(A) or not len(Bp):
            return _empty_frame(ddl)
        i, n, c = _pair_topk(A["id"].to_numpy(), Va, Bp["id"].to_numpy(), Vb, k + 1)
        non_self = i != n
        return pd.DataFrame(
            {"vec_id": i[non_self], "nbr_id": n[non_self], "cosine": c[non_self]}
        )

    return both.groupBy("ablk", "bblk").applyInPandas(block_topk, ddl)


def knn_join_within_cells(
    embeddings: DataFrame,
    n_cells: int = 8,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Approximate k-NN JOIN, IVF production path: assign every vector
    to its IVF cell (same deterministic centroids and cell rule as
    `ivf_write_index`), then
    compute the EXACT top-k within each cell in one applyInPandas pass
    per cell — no cross-cell pairs, no merge step (each vector lives
    in exactly one group, so in-kernel ranks are final).

    This is the scale form of `knn_join_partials`: the candidate set
    shrinks from every block pair (exact, O(n²/B) per task) to one
    semantic cell (approximate, O((n/C)²) per task with C growing with
    the corpus). Recall against the exact join is auditable with
    `ann_recall_audit`-style queries; tie-breaks and fixed-point
    arithmetic are identical to the exact kernel, so within-cell
    results are bitwise-equal to the exact join restricted to the
    cell.

    ``assigned`` (optimization r15, VERDICT r14 #7): a pre-assigned
    (id, vec, cell) relation — the at-rest IVF index
    (`ivf_write_index` partitions the corpus by the IDENTICAL cell
    rule). Passing it removes the assignment mapInPandas, leaving ONE
    Python boundary (the per-cell kernel) and no centroid collect at
    plan build — the serving posture every IVF deployment uses (the
    index is built once per corpus version at ingest). Default None
    keeps the self-contained two-pass shape. ``n_cells`` is unused when
    ``assigned`` is given: the cells are whatever the relation carries,
    so the caller checks that it was built with the intended count."""
    import numpy as np
    import pandas as pd

    if assigned is None:
        C, _ = _ivf_centroids_and_query(embeddings, [], n_cells, id_col, vec_col)
        assigned = _assign_cells(embeddings, C, 1, id_col, vec_col)
    # the cast pins a partition-discovered cell column to int32 (the
    # kernel's declared schema)
    assigned = assigned.select(id_col, vec_col, F.col("cell").cast("int").alias("cell"))
    ddl = "vec_id long, nbr_id long, rk int, cosine double, cell int"

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf, V = _fp_matrix(pdf.sort_values(id_col), vec_col)
        if len(pdf) < 2:
            return _empty_frame(ddl)
        ids = pdf[id_col].to_numpy()
        i, n, c = _pair_topk(ids, V, ids, V, k + 1)
        non_self = i != n
        f = pd.DataFrame(
            {"vec_id": i[non_self], "nbr_id": n[non_self], "cosine": c[non_self]}
        )
        # candidates arrive rank-ordered per row; number the survivors
        # and keep the first k
        f["rk"] = f.groupby("vec_id").cumcount().astype("int32") + 1
        f = f[f["rk"] <= k].assign(cell=np.int32(pdf["cell"].iloc[0]))
        return f[["vec_id", "nbr_id", "rk", "cosine", "cell"]]

    return assigned.groupBy("cell").applyInPandas(cell_topk, ddl)


def knn_probe_index(
    spark,
    index_path: str,
    batch: DataFrame,
    k: int = 3,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Batch ANN SERVING against a persisted cell-partitioned IVF
    index (`ivf_write_index` layout) — the operational shape
    `dedup_incremental_probe` established for near-dup: the ingested
    corpus is indexed ONCE; each new batch is assigned its n_probe
    nearest cells map-side (centroids re-read from the index's own
    lowest-id rows — the same matrix the index was built with), and
    ONLY the probed partitions are scanned (`cell IN (...)` with the
    probe list collected from the batch — bounded by n_cells rows,
    never corpus-sized). Candidates meet the batch in one per-cell
    Arrow kernel; ONE per-id window merges the ≤ n_probe partial
    top-ks. The index text/vectors outside probed cells are never
    read.

    Exactness contract: the module's fixed-point arithmetic and ranking
    rule, for candidates and for probe cells alike."""
    import pandas as pd

    idx = spark.read.parquet(index_path)
    crows = (
        idx.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    )
    _, C = _fp_matrix(pd.DataFrame(crows, columns=[id_col, vec_col]), vec_col)
    bat = _assign_cells(batch, C, n_probe, id_col, vec_col).persist()
    probe_cells = [int(r["cell"]) for r in bat.select("cell").distinct().collect()]

    a = bat.select(
        "cell",
        F.lit(0).alias("side"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
    )
    b = idx.where(F.col("cell").isin(probe_cells)).select(
        "cell",
        F.lit(1).alias("side"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
    )
    both = a.unionByName(b)
    ddl = "vec_id long, nbr_id long, cosine double"

    def cell_probe(pdf: pd.DataFrame) -> pd.DataFrame:
        A, Va = _fp_matrix(pdf[pdf["side"] == 0], "vec")
        Bp, Vb = _fp_matrix(pdf[pdf["side"] == 1].sort_values("id"), "vec")
        if not len(A) or not len(Bp):
            return _empty_frame(ddl)
        i, n, c = _pair_topk(A["id"].to_numpy(), Va, Bp["id"].to_numpy(), Vb, k)
        return pd.DataFrame({"vec_id": i, "nbr_id": n, "cosine": c})

    from pyspark.sql import Window

    part = both.groupBy("cell").applyInPandas(cell_probe, ddl)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        part.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("vec_id", "nbr_id", F.col("rk").cast("int").alias("rk"), "cosine")
    )


def pq_train_partials(
    embeddings: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    chunk: int = 1024,
    emit_inertia: bool = False,
) -> DataFrame:
    """Fused assign-and-partially-update kernel for one PQ (product
    quantization) training iteration — `lloyd_step_partials` run over
    ALL M subspaces in ONE corpus pass: each task splits its rows into
    M contiguous subvectors, assigns each subvector to the nearest of
    K broadcast codewords of its subspace (exact fixed-point squared
    L2 — floor((x-c)^2 * SCALE) int64 sums over the subspace dims,
    ties to the LOWER code), and folds member components into
    per-(subspace, code) fixed-point sums. The only shuffle moves
    M * K * (d/M) = K * d numbers per task — training M codebooks
    costs the same shuffle volume as training one k-means.

    `codebooks` is an (M, K, d/M) float64 array, codes 0..K-1 per
    subspace. Output rows (m, code, i, s, n): i is the 1-based
    component index WITHIN the subspace. ``emit_inertia=True`` adds
    one (m, code=-1, i=0) row per task and subspace carrying the
    task's exact int64 sum of assigned distances (the per-subspace
    quantization-error partial the trainer's audit aggregates).
    NULL embeddings drop out."""
    import numpy as np
    import pandas as pd

    CB = np.asarray(codebooks, dtype="float64")
    m_sub, k, ds = CB.shape

    def fold(batches):
        sums = np.zeros((m_sub, k, ds), dtype="int64")
        counts = np.zeros((m_sub, k), dtype="int64")
        inertia = np.zeros(m_sub, dtype="int64")
        for pdf in batches:
            col = pdf[vec_col].dropna()
            if not len(col):
                continue
            V = np.stack(col.to_numpy()).astype("float64")
            for lo in range(0, len(V), chunk):
                W = V[lo : lo + chunk]
                Wf = np.floor(W * float(SCALE)).astype("int64")
                for m in range(m_sub):
                    Wm = W[:, m * ds : (m + 1) * ds]
                    D = (
                        np.floor(
                            (Wm[:, None, :] - CB[m][None, :, :]) ** 2
                            * float(SCALE)
                        )
                        .astype("int64")
                        .sum(axis=2)
                    )
                    a = D.argmin(axis=1)
                    if emit_inertia:
                        inertia[m] += int(D.min(axis=1).sum())
                    Wmf = Wf[:, m * ds : (m + 1) * ds]
                    for c in range(k):
                        sel = a == c
                        if sel.any():
                            sums[m, c] += Wmf[sel].sum(axis=0)
                            counts[m, c] += int(sel.sum())
        frames = []
        for m in range(m_sub):
            hit = counts[m] > 0
            if hit.any():
                codes = np.repeat(np.arange(k, dtype="int64")[hit], ds)
                comp = np.tile(np.arange(1, ds + 1, dtype="int32"), int(hit.sum()))
                frames.append(
                    pd.DataFrame(
                        {
                            "m": np.full(len(codes), m, dtype="int32"),
                            "code": codes,
                            "i": comp,
                            "s": sums[m][hit].reshape(-1),
                            "n": np.repeat(counts[m][hit], ds),
                        }
                    )
                )
            if emit_inertia and counts[m].sum() > 0:
                frames.append(
                    pd.DataFrame(
                        {
                            "m": pd.Series([m], dtype="int32"),
                            "code": pd.Series([-1], dtype="int64"),
                            "i": pd.Series([0], dtype="int32"),
                            "s": pd.Series([int(inertia[m])], dtype="int64"),
                            "n": pd.Series([int(counts[m].sum())], dtype="int64"),
                        }
                    )
                )
        if frames:
            yield pd.concat(frames, ignore_index=True)

    return embeddings.select(vec_col).mapInPandas(
        fold, "m int, code long, i int, s long, n long"
    )


def pq_adc_distances(
    embeddings: DataFrame,
    codebooks,
    query,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk: int = 1024,
) -> DataFrame:
    """PQ encode + asymmetric-distance scoring fused in one map-only
    pass (the FAISS ADC serving shape with a TRAINED codebook): each
    row's M subvectors are assigned to their nearest codewords (exact
    fixed-point squared L2, ties to the lower code) and the distance
    to the broadcast query is the integer sum of M lookup-table
    entries LUT[m][code] = floor-exact d2(query subvector, codeword) —
    computed once driver-side from K*d bounded numbers, never per row.
    Emits (id, adc_dist); no shuffle, TakeOrdered finishes the top-k
    at any scale."""
    import numpy as np
    import pandas as pd

    CB = np.asarray(codebooks, dtype="float64")
    m_sub, k, ds = CB.shape
    q = np.asarray(query, dtype="float64")
    lut = np.zeros((m_sub, k), dtype="int64")
    for m in range(m_sub):
        qm = q[m * ds : (m + 1) * ds]
        lut[m] = (
            np.floor((qm[None, :] - CB[m]) ** 2 * float(SCALE))
            .astype("int64")
            .sum(axis=1)
        )

    def score(batches):
        for pdf in batches:
            keep = pdf[vec_col].notna()
            pdf = pdf[keep]
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            ids = pdf[id_col].to_numpy()
            for lo in range(0, len(V), chunk):
                W = V[lo : lo + chunk]
                dist = np.zeros(len(W), dtype="int64")
                for m in range(m_sub):
                    Wm = W[:, m * ds : (m + 1) * ds]
                    D = (
                        np.floor(
                            (Wm[:, None, :] - CB[m][None, :, :]) ** 2
                            * float(SCALE)
                        )
                        .astype("int64")
                        .sum(axis=2)
                    )
                    dist += lut[m][D.argmin(axis=1)]
                yield pd.DataFrame(
                    {"vec_id": ids[lo : lo + chunk], "adc_dist": dist}
                )

    return embeddings.select(
        F.col(id_col).alias(id_col), vec_col
    ).mapInPandas(score, f"{id_col} long, adc_dist long")


def farthest_point_partials(
    embeddings: DataFrame,
    seeds,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    chunk: int = 1024,
) -> DataFrame:
    """One round of farthest-point (Gonzalez k-center) seeding: each
    task computes every row's EXACT min fixed-point squared L2 to the
    broadcast seed set and emits only its LOCAL argmax row (max
    min-distance, ties to the LOWER id) — one (md, id) pair per task,
    so the driver reduction is bounded by task count, never corpus
    size. The global argmax under the same (md desc, id asc) rule is
    the next seed; exact integer distances make the whole seeding
    trajectory bit-reproducible and SQL-replayable."""
    import numpy as np
    import pandas as pd

    S0 = np.asarray(seeds, dtype="float64")

    def fold(batches):
        best_md = -1
        best_id = -1
        for pdf in batches:
            pdf = pdf.dropna(subset=[vec_col])
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            ids = pdf[id_col].to_numpy()
            for lo in range(0, len(V), chunk):
                W = V[lo : lo + chunk]
                D = (
                    np.floor((W[:, None, :] - S0[None, :, :]) ** 2 * float(SCALE))
                    .astype("int64")
                    .sum(axis=2)
                    .min(axis=1)
                )
                sub_ids = ids[lo : lo + chunk]
                order = np.lexsort((sub_ids, -D))
                cand_md, cand_id = int(D[order[0]]), int(sub_ids[order[0]])
                if cand_md > best_md or (
                    cand_md == best_md and cand_id < best_id
                ):
                    best_md, best_id = cand_md, cand_id
        if best_id >= 0:
            yield pd.DataFrame(
                {
                    "md": pd.Series([best_md], dtype="int64"),
                    "vid": pd.Series([best_id], dtype="int64"),
                }
            )

    return embeddings.select(id_col, vec_col).mapInPandas(fold, "md long, vid long")


def knn_join_multiprobe(
    embeddings: DataFrame,
    n_cells: int = 8,
    k: int = 3,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe IVF k-NN join — the standard recall knob between
    `knn_join_within_cells` (n_probe=1) and the exact join: every
    vector still lives in exactly ONE build cell (its top cell), but
    as a PROBE it visits its top ``n_probe`` cells, so a
    true neighbor just across a cell boundary is recovered at the cost
    of replicating only the probe side n_probe-fold. Shuffle volume is
    n * (n_probe) vector rows + n build rows; per-task work is
    O(n_probe * (n/C)^2) — the corpus is never all-paired.

    Determinism contract matches the whole family (module doc): probe
    cells and candidates both follow the ranking rule, so the per-cell
    candidate lists are bitwise-equal to the exact join restricted to
    the cell, and the cross-cell merge is one per-id window downstream
    (the caller applies it; this returns per-cell candidates, k+1 per
    probe per cell so the post-self-drop top-k is always contained).
    """
    import numpy as np
    import pandas as pd

    if not 1 <= n_probe <= n_cells:
        raise ValueError("n_probe must be in [1, n_cells]")
    C, _ = _ivf_centroids_and_query(embeddings, [], n_cells, id_col, vec_col)
    # every row replicates to its top n_probe cells; the rank-0 copy is
    # ALSO the vector's build home
    assigned = _assign_cells(embeddings, C, n_probe, id_col, vec_col)
    ddl = "vec_id long, nbr_id long, cosine double, cell int"

    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        # probes = every row in the group (the build copy doubles as
        # its own rank-0 probe; replicas are probe-only)
        pdf, PV = _fp_matrix(pdf.sort_values(id_col), vec_col)
        build = pdf["rank"].to_numpy() == 0
        if not build.any() or len(pdf) < 2:
            return _empty_frame(ddl)
        pids = pdf[id_col].to_numpy()
        i, n, c = _pair_topk(pids, PV, pids[build], PV[build], k + 1)
        non_self = i != n
        f = pd.DataFrame(
            {"vec_id": i[non_self], "nbr_id": n[non_self], "cosine": c[non_self]}
        )
        f = f[f.groupby("vec_id").cumcount() < k]
        return f.assign(cell=np.int32(pdf["cell"].iloc[0]))

    return assigned.groupBy("cell").applyInPandas(cell_topk, ddl)
