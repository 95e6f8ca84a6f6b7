"""Product quantization (PQ) for the persisted IVF vector store —
CERTIFIED-EXACT asymmetric-distance serving.

PQ (Jégou, Douze, Schmid: "Product Quantization for Nearest Neighbor
Search", TPAMI 2011) splits each UNIT vector into ``m`` subvectors and
replaces every subvector with the id of its nearest codeword from a
per-subspace codebook — ``m`` bytes per vector instead of ``dim``
doubles.  A query then scores codes with one table lookup per subspace
(asymmetric distance computation, ADC): the scan that produces the
shortlist reads ONLY the code column, never the embedding column —
at 100 TB that is the difference between scanning terabytes of float64
and scanning the ~1/64th-size code column parquet prunes down to.
The lookups run in the JVM (:func:`adc_score_col`): each row of the
per-query table is one folded array literal, so scoring starts no
Python worker and compiles no class per query.

The repo-specific twist is the EXACTNESS CERTIFICATE, matching the
IVF store's certified probe walk (``operators/indexing.py``): at
encode time every row stores its reconstruction error
``e_x = |unit(x) - recon(x)|`` (one float, rounded up).  Cauchy-Schwarz gives

    cos(q, x) = <q_unit, unit(x)> = <q_unit, recon(x)> +
                <q_unit, unit(x) - recon(x)>  in  [adc - e_x, adc + e_x]

so per-row LOWER and UPPER bounds on the true cosine come free with
the ADC pass.  Serving takes the k-th largest lower bound L over the
probed rows (at least k rows have true sim >= L), exact-rescores ONLY
rows whose upper bound reaches L, and returns their exact top-k —
equal to brute force by construction.  Rows rescored = rows whose
error band crosses the threshold: tight codebooks rescore a handful;
garbage codebooks degrade to a full rescore of the probed partitions,
never to a wrong answer.  (The reference's pgvector HNSW serves
APPROXIMATE top-k, ``041_vector_index.sql:6-8``; this path serves the
compressed-scan latency profile without giving up the oracle.)

Everything is deterministic: codebooks come from fixed-seed Lloyd
iterations over an xxhash64-ordered training sample, encoding is a
pure argmin, and the serving threshold is derived from the data.
"""

from __future__ import annotations

import operator
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from car_etl_spark.functions import vectors as V

#: certified-rescore slack: 1e-6 absorbs the 6-dp output rounding at
#: the k-th boundary (same constant as IvfStore.probe_ids_exact), the
#: second 1e-6 covers float accumulation in the ADC sums
RERANK_SLACK = 2e-6

#: codewords per subspace — one uint8 code byte (the PQ standard)
CODES_PER_SUBSPACE = 256

#: training-sample cap, bytes-aware: ~8 MB of float64 regardless of
#: dim (control-plane collect, same discipline as the centroid seeds)
def train_sample_size(dim: int) -> int:
    return int(min(8192, max(1024, 8_000_000 // max(dim, 1))))


def pq_subspaces(dim: int, m: int) -> int:
    """Largest subspace count <= m that divides dim (PQ needs equal
    subvector widths; dim is the corpus's, m is the compression ask)."""
    if dim <= 0:
        raise ValueError("dim must be positive")
    for mm in range(min(m, dim), 0, -1):
        if dim % mm == 0:
            return mm
    return 1


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    """Row-normalize; zero rows stay zero (handled by the caller)."""
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return np.divide(mat, norms, out=np.zeros_like(mat), where=norms > 0)


def train_codebooks(
    sample: np.ndarray,
    m: int,
    k: int = CODES_PER_SUBSPACE,
    iters: int = 10,
    seed: int = 13,
) -> np.ndarray:
    """Per-subspace Lloyd k-means over UNIT-normalized sample rows —
    deterministic (fixed seed, argmin ties to the lowest codeword,
    empty clusters keep their previous codeword).  Returns
    ``(m, k_eff, dim/m)`` float64; ``k_eff = min(k, n_sample)``.

    Driver-side numpy on a bounded sample: codebooks are corpus
    GEOMETRY, like the coarse centroids — training on a sample is the
    standard recipe and the certificate makes the serving result
    independent of sample quality (bad codebooks cost rescore volume,
    not correctness)."""
    if sample.ndim != 2 or sample.shape[0] == 0:
        raise ValueError("PQ training needs a non-empty 2-D sample")
    sample = _unit_rows(np.asarray(sample, dtype="float64"))
    n, dim = sample.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    k_eff = int(min(k, n))
    rng = np.random.default_rng(seed)
    books = np.empty((m, k_eff, dsub), dtype="float64")
    for j in range(m):
        x = sample[:, j * dsub : (j + 1) * dsub]
        idx = rng.choice(n, size=k_eff, replace=False)
        cents = x[np.sort(idx)].copy()
        for _ in range(iters):
            d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k_eff):
                mask = assign == c
                if mask.any():
                    cents[c] = x[mask].mean(axis=0)
        books[j] = cents
    return books


def encode_with_err(df: DataFrame, vec_col: str, codebooks: np.ndarray) -> DataFrame:
    """Append ``pq_code binary`` + ``pq_err float`` columns:
    per-subspace nearest codeword of the UNIT vector and the exact L2
    reconstruction error.  NULL vectors get NULL code/err (they cannot
    rank); zero vectors get codeword 0 and the always-rescore error
    bound 2.0 (diameter of the unit sphere) so their exact semantics —
    whatever the cosine kernel defines — are preserved by rescoring.

    Arrow-batched pandas UDF: one argmin per subspace per batch, pure
    numpy, no per-row Python."""
    books = np.ascontiguousarray(codebooks, dtype="float64")
    m, _k, dsub = books.shape
    # flat (k, m*dsub)-style views per subspace for vectorized argmin
    sq_norms = (books**2).sum(axis=2)  # (m, k)

    @pandas_udf("pq_code binary, pq_err float")
    def enc(vecs: pd.Series) -> pd.DataFrame:
        out_code: list = []
        out_err: list = []
        mask = vecs.notna().to_numpy()
        if not mask.any():
            return pd.DataFrame({"pq_code": [None] * len(vecs), "pq_err": [None] * len(vecs)})
        mat = np.stack([np.asarray(v, dtype="float64") for v in vecs[mask]])
        norms = np.linalg.norm(mat, axis=1)
        unit = np.divide(mat, norms[:, None], out=np.zeros_like(mat), where=norms[:, None] > 0)
        n = unit.shape[0]
        # one uint8 per subspace, packed into an m-byte BINARY — the
        # tightest parquet encoding (an array column pays per-element
        # repetition levels; measured 2x wider on disk)
        codes = np.empty((n, m), dtype="uint8")
        recon = np.empty_like(unit)
        for j in range(m):
            xj = unit[:, j * dsub : (j + 1) * dsub]
            # argmin ||x - c||^2 = argmin(|c|^2 - 2<x,c>) — ties to
            # the lowest codeword id (np.argmin first occurrence)
            scores = sq_norms[j][None, :] - 2.0 * (xj @ books[j].T)
            cj = scores.argmin(axis=1)
            codes[:, j] = cj
            recon[:, j * dsub : (j + 1) * dsub] = books[j][cj]
        err = np.linalg.norm(unit - recon, axis=1)
        err = np.where(norms > 0, err, 2.0)
        # store as float32 (half the column bytes), rounded UP where
        # float32 rounding went down — the error band may only ever
        # WIDEN, same monotone-weakening rule as the IVF radii
        err32 = err.astype("float32")
        err = np.where(
            err32.astype("float64") < err,
            np.nextafter(err32, np.float32("inf")),
            err32,
        ).astype("float32")
        it_code = iter(codes)
        it_err = iter(err)
        for ok in mask:
            if ok:
                out_code.append(next(it_code).tobytes())
                out_err.append(float(next(it_err)))
            else:
                out_code.append(None)
                out_err.append(None)
        return pd.DataFrame({"pq_code": out_code, "pq_err": out_err})

    return df.withColumn("__pq", enc(F.col(vec_col))).select(
        "*", F.col("__pq.pq_code").alias("pq_code"), F.col("__pq.pq_err").alias("pq_err")
    ).drop("__pq")


def adc_table(qvec: list[float], codebooks: np.ndarray) -> np.ndarray:
    """Per-(subspace, codeword) dot products with the UNIT query —
    driver-side, (m, k) doubles.  ``sum_j table[j][code_j]`` is the
    ADC approximation of ``cos(q, x)``."""
    books = np.asarray(codebooks, dtype="float64")
    m, _k, dsub = books.shape
    q = np.asarray(qvec, dtype="float64")
    qn = np.linalg.norm(q)
    if qn > 0:
        q = q / qn
    return np.einsum("mkd,md->mk", books, q.reshape(m, dsub))


def adc_score_col(code_col: Column, table: np.ndarray) -> Column:
    """ADC score of a code column against a query table, as a JVM
    expression: ``sum_j table[j][code_j]``, summed left to right, is m
    ``element_at`` lookups, each into its subspace's row of the table as
    one folded array literal
    (:func:`~car_etl_spark.functions.vectors.literal_doubles`).  Byte j
    of the packed code is read as ``ascii(substring(decode(code,
    'ISO-8859-1'), j+1, 1))`` — Latin-1 maps every byte to the char of
    the same value, and the one decode per row is a common
    subexpression of the m lookups.  One literal per subspace, not one
    flattened table shared by the m lookups: every occurrence of a
    literal is folded and printed on its own, so a shared (m, k) table
    costs m² k in plan size (46 MB, 12 s a query at m = 96, k = 256).
    The literals travel by reference in the generated class, so a fresh
    query compiles nothing and no Python worker is started."""
    chars = F.decode(code_col, "ISO-8859-1")
    terms = [
        F.element_at(V.literal_doubles(row), F.ascii(F.substring(chars, j + 1, 1)) + 1)
        for j, row in enumerate(np.asarray(table, dtype="float64"))
    ]
    return reduce(operator.add, terms)
