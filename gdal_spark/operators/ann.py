"""Approximate-nearest-neighbor search over embedding columns.

Two paths over ``embeddings(vec_id, embedding: array<float>, label)``:

- **Brute-force cosine top-k** (the correctness baseline): JVM-side
  ``zip_with``/``aggregate`` fold for the dot product — no Python in
  the loop; broadcast the (small) query set against all candidates.
- **Hyperplane-LSH bucketed top-k** (the scale path): B deterministic
  pseudo-hyperplanes with ±1 components derived from md5 hex bits;
  candidates = bucket equi-join on the B-bit signature, exact cosine
  within bucket. At 10¹² rows the bucket join replaces the cross
  product; recall is tunable via B and multi-probe.

Scores are rounded to 6 decimals so cross-engine float-summation-order
noise cannot flip equality checks; ordering ties broken by vec_id.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DIM = 64
N_PLANES = 8

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
NORM = (
    "sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
)


def cosine_expr(a: str, b: str) -> str:
    return f"({DOT.format(a=a, b=b)} / ({NORM.format(a=a)} * {NORM.format(a=b)}))"


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int] | None = None,
    n_queries: int = 8,
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k of each query vector against all candidates
    (excluding itself). Query side broadcast (small); candidate scan
    is a single pass — the plan a 1000-executor cluster wants."""
    if query_ids is not None:
        q = embeddings.filter(F.col("vec_id").isin(query_ids))
    else:
        q = embeddings.filter(F.col("vec_id") < n_queries)
    q = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    joined = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("score", F.round(F.expr(cosine_expr("q_emb", "embedding")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def plane_sign_expr(plane: int, i: int) -> str:
    """±1 component i of pseudo-hyperplane ``plane``: high bit of an
    md5 hex digit of a fixed seed string. md5 of a constant is folded
    HERE (Python hashlib — the identical algorithm SQL ``md5()``
    runs) to a bare ``1.0``/``-1.0`` literal: the earlier form that
    shipped the ``CASE WHEN substr(md5(...))`` tree to the engine made
    each 32-bit signature a ~20k-node expression, and Catalyst spent
    ~18 s analyzing the ann_lsh plan before reading a single row."""
    import hashlib

    pos = (plane * DIM + i) % 32
    h = hashlib.md5(f"plane{plane}_{i // 32}".encode()).hexdigest()
    return "1.0" if h[pos] in "89abcdef" else "-1.0"


def _plane_matrix(n_planes: int):
    """(DIM × n_planes) ±1 matrix — the same md5-derived signs
    ``plane_sign_expr`` folds into the SQL, as floats."""
    import hashlib

    S = np.empty((DIM, n_planes), dtype=np.float64)
    for p in range(n_planes):
        h = None
        for i in range(DIM):
            if i % 32 == 0:
                h = hashlib.md5(f"plane{p}_{i // 32}".encode()).hexdigest()
            S[i, p] = 1.0 if h[(p * DIM + i) % 32] in "89abcdef" else -1.0
    return S


def sig_bits_udf(n_planes: int):
    """Arrow-vectorized twin of ``signature_expr``: all ``n_planes``
    hyperplane bits of each embedding as one '0'/'1' string.

    Bit-identical to the SQL ``+``-chain the DuckDB oracle runs: the
    projection is accumulated dimension-by-dimension (``P += x_i·s_i``
    for i = 0..63), i.e. the exact left-associated float64 addition
    order of ``t0 + t1 + … + t63`` (0.0 + t0 ≡ t0 in IEEE754), so the
    ``> 0`` sign test can never disagree. Exists because the expression
    form is a ~20k-node tree per row that Catalyst evaluates at ~10 ms
    per row (janino-split interpreted chains) — the NumPy path is a
    64-step vectorized loop per Arrow batch."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    S = _plane_matrix(n_planes)

    @pandas_udf(StringType())
    def _sig(emb: pd.Series) -> pd.Series:
        if not len(emb):
            return pd.Series([], dtype=object)
        X = np.stack(emb.to_numpy()).astype(np.float64)  # n × DIM
        P = np.zeros((len(X), S.shape[1]), dtype=np.float64)
        for i in range(DIM):  # left-to-right: matches the SQL fold
            P += X[:, i : i + 1] * S[i]
        chars = np.where(P > 0, "1", "0").astype("<U1")
        return pd.Series(np.ascontiguousarray(chars).view(f"<U{S.shape[1]}").ravel())

    return _sig


def signature_expr(emb: str, n_planes: int = N_PLANES, accessor: str = "element_at({emb}, {i})") -> str:
    """B-bit hyperplane signature of an embedding column as a string
    of 0/1 digits (string keeps it engine-portable). ``accessor``
    formats 1-based element access — default Spark ``element_at``;
    pass ``"{emb}[{i}]"`` for the DuckDB oracle. The ``+`` fold order
    is identical in both engines, and the ±1 factors are exact, so
    the projections (and therefore the buckets) match bit-for-bit."""
    bits = []
    for p in range(n_planes):
        terms = " + ".join(
            f"CAST({accessor.format(emb=emb, i=i + 1)} AS DOUBLE) * ({plane_sign_expr(p, i)})"
            for i in range(DIM)
        )
        bits.append(f"(CASE WHEN ({terms}) > 0 THEN '1' ELSE '0' END)")
    return "concat(" + ", ".join(bits) + ")"


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.99,
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the dedup use of the
    vector space, distinct from top-k search): candidates = the
    hyperplane-LSH bucket self-join (vectors this similar agree on
    every projection with high probability), verify = exact cosine ≥
    threshold. Returns (vec_a, vec_b, score) with vec_a < vec_b.

    At 10¹² rows the bucket self-join replaces the all-pairs product
    exactly like the MinHash band join does for text; recall for
    near-identical vectors is governed by n_planes (each plane flips
    with probability θ/π ≈ 0.045 at cosine 0.99)."""
    sig = embeddings.withColumn("sig", sig_bits_udf(n_planes)("embedding"))
    a = sig.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"), "sig"
    )
    b = sig.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"), "sig"
    )
    return (
        a.join(b, "sig")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("score", F.round(F.expr(cosine_expr("emb_a", "emb_b")), 6))
        .filter(F.col("score") >= threshold)
        .select("vec_a", "vec_b", "score")
    )


def band_sig_exprs(
    bands: int, rows: int, accessor: str = "element_at({emb}, {i})", emb: str = "embedding"
) -> list[str]:
    """One ``rows``-bit signature string per band (planes b·rows ..
    b·rows+rows-1) — the OR-amplification layout: a candidate needs to
    agree on ALL bits of ANY band (P = 1-(1-p^rows)^bands)."""
    out = []
    for b in range(bands):
        bits = []
        for p in range(b * rows, (b + 1) * rows):
            terms = " + ".join(
                f"CAST({accessor.format(emb=emb, i=i + 1)} AS DOUBLE) * ({plane_sign_expr(p, i)})"
                for i in range(DIM)
            )
            bits.append(f"(CASE WHEN ({terms}) > 0 THEN '1' ELSE '0' END)")
        out.append("concat(" + ", ".join(bits) + ")")
    return out


def lsh_topk_banded(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    bands: int = 8,
    rows: int = 4,
) -> DataFrame:
    """OR-amplified multi-band hyperplane LSH (the MinHash-band layout
    applied to the 32 hyperplane bits, per round-2 verdict): candidate
    = agrees with the query on ANY band's ``rows`` bits; exact cosine
    + top-k on candidates only. At 10¹² rows: explode to (band, key),
    equi-join against the broadcast query probes — one shuffle-free
    pass over the vectors.

    Honest recall note (measured on the fixture, k=10): true top-10
    cosines here are ~0.28-0.37 (near-random vectors), where a
    hyperplane bit agrees with p≈0.62 — bands=8×rows=4 gives
    recall≈0.69 scanning ~15% of rows; pushing hyperplane LSH to 0.9
    on such data degenerates to a full scan. ``ivf_topk`` is the
    engine's ≥0.9-recall path; ``bench.py`` reports both recalls
    against ``brute_force_topk``.

    The full bands·rows-bit signature is computed ONCE per vector by
    the Arrow UDF (bit-identical to the oracle's SQL chain, see
    ``sig_bits_udf``); band keys are cheap substrings of it."""
    n_bits = bands * rows
    full = embeddings.withColumn("sig", sig_bits_udf(n_bits)("embedding"))
    parts = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring("sig", b * rows + 1, rows).alias("bkey"),
        ).alias(f"p{b}")
        for b in range(bands)
    ]
    sig = full.select(
        "vec_id", "embedding", F.explode(F.array(*parts)).alias("bb")
    ).select("vec_id", "embedding", "bb.band", "bb.bkey")
    q = sig.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        "band",
        F.col("bkey").alias("q_bkey"),
    )
    cand = (
        sig.join(F.broadcast(q), ["band"])
        .filter((F.col("bkey") == F.col("q_bkey")) & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", "q_emb", "vec_id", "embedding")
        .dropDuplicates(["query_id", "vec_id"])  # a pair may match several bands
    )
    scored = cand.withColumn(
        "score", F.round(F.expr(cosine_expr("q_emb", "embedding")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 6,
) -> DataFrame:
    """IVF (inverted-file) ANN — the ≥0.9-recall scale path for
    moderate-similarity data where hyperplane LSH degenerates (see
    ``lsh_topk_banded``): a deterministic coarse quantizer (the first
    ``n_centroids`` vectors by vec_id — seed-vector centroids, no
    k-means iterations, so the DuckDB oracle reproduces the partition
    bit-for-bit) assigns every vector to its max-cosine centroid; a
    query probes its ``n_probe`` closest centroids and scans only
    those cells. Measured on the fixture at k=10: recall 0.925
    scanning ~37% (K=16, P=6); at real scale K grows ~√n and the
    scanned fraction shrinks with it.

    Plan shape: centroid table is dimension-sized → broadcast both
    into the assignment (window argmax over n×K) and the probe set;
    the only wide exchange is the final per-query top-k window over
    candidates."""
    cent = embeddings.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("c_emb")
    )
    scored_asn = embeddings.crossJoin(F.broadcast(cent)).withColumn(
        "a_score", F.expr(cosine_expr("embedding", "c_emb"))
    )
    wa = Window.partitionBy("vec_id").orderBy(
        F.col("a_score").desc(), F.col("cent_id").asc()
    )
    asn = (
        scored_asn.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", F.col("cent_id").alias("cell"))
    )
    q = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("p_score", F.expr(cosine_expr("q_emb", "c_emb")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("p_score").desc(), F.col("cent_id").asc()
                )
            ),
        )
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "q_emb", F.col("cent_id").alias("cell"))
    )
    cand = asn.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.withColumn(
        "score", F.round(F.expr(cosine_expr("q_emb", "embedding")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )
