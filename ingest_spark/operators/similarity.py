"""Similarity search over embedding columns (ANN).

- ``cosine_topk``  — brute-force exact top-k per query (the baseline
  and oracle: window rank over a cross/broadcast join; right answer
  when the query set is small or as a verification pass).
- ``ann_topk``     — the scale path: IVF-style bucketing by random
  hyperplane LSH code; each query probes its own bucket plus the
  ``n_probe`` nearest codes by hamming distance, so the big vector
  table shuffles once on bucket id and never cross-joins. Recall is
  tunable (n_planes ↓ / n_probe ↑ ⇒ recall ↑); exactness is verified
  against cosine_topk in tests on recall terms.

Dot products are JVM-side (`zip_with` + `aggregate` fold) — no Python
in the distance hot path for the brute-force variant; the LSH encoder
is an Arrow-batched numpy UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

from ..functions import sketches as sk
from .partitioning import kernel_partitions


def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, v: s + v * v))
    return dot / (na * nb)


def _norm(c):
    """Vector L2 norm — the exact fold ``_cosine`` uses, hoisted so it
    can be computed once PER VECTOR before a join instead of once per
    candidate pair (same op order ⇒ bit-identical cosine)."""
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda s, v: s + v * v))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
    query_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: (qid, vec_id, cosine, rank)."""
    # norms are computed once per vector BEFORE the join (each pair
    # then pays only the dot fold — 1/3 of the interpreted lambda work;
    # identical op order per vector ⇒ bit-identical cosine)
    v = kernel_partitions(vectors).select(
        F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_vn"),
    )
    q = queries.select(
        F.col(query_id).alias("_qid"), F.col(query_vec).alias("_q"),
        _norm(F.col(query_vec)).alias("_qn"),
    )
    cos = _dot("_q", "_v") / (F.col("_qn") * F.col("_vn"))
    w = Window.partitionBy("_qid").orderBy(F.desc("cosine"), F.asc("_vid"))
    # project to (qid, vid, cosine) BEFORE the window: its exchange
    # then shuffles 3 scalars per row instead of both embedding arrays
    # (guide §2.3 — project before the exchange)
    return (
        q.crossJoin(v)
        .select("_qid", "_vid", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("_qid").alias(query_id), F.col("_vid").alias(id_col), "cosine", "rank")
    )


def _codes_udf(n_planes: int, n_tables: int):
    """One LSH sign-code per table (independent hyperplanes per table,
    seeded deterministically) — returned as an array so the vector
    crosses the Arrow boundary once for all tables. Codes use the
    integer-quantized kernel (sketches.hyperplane_codes_int), so the
    DuckDB oracle reproduces the candidate sets exactly."""
    @F.pandas_udf(ArrayType(LongType()))
    def _u(vec: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in vec])
        codes = np.stack(
            [
                sk.hyperplane_codes_int(mat, n_planes, seed=sk._SEED + 7919 * t)
                for t in range(n_tables)
            ],
            axis=1,
        )
        return pd.Series(list(codes))
    return _u


def ann_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_probe: int = 9,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "qid",
    query_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: multi-table multi-probe hyperplane LSH.

    ``n_tables`` independent tables of ``n_planes`` hyperplanes each
    (classic E2LSH OR-construction — recall 1-(1-p_probe^1)^L); within
    a table a query probes its own code plus hamming-distance-1 codes
    (up to ``n_probe``). The big vector table shuffles once on
    (table, code); no cross join anywhere. Recall-vs-exact bounds in
    test_webtext.py. Probe-code fan-out is a JVM-side XOR expression."""
    # norms once per vector, BEFORE the code explode/join (see
    # cosine_topk) — candidates pay only the dot fold
    v = kernel_partitions(vectors).select(
        F.col(id_col).alias("_vid"), F.col(vec_col).alias("_v"),
        _norm(F.col(vec_col)).alias("_vn"),
        F.posexplode(_codes_udf(n_planes, n_tables)(F.col(vec_col))).alias("_tbl", "_code"),
    )
    probe_arr = F.array(
        F.col("_c0"), *[F.col("_c0").bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    )
    q = (
        queries.select(
            F.col(query_id).alias("_qid"), F.col(query_vec).alias("_q"),
            _norm(F.col(query_vec)).alias("_qn"),
            F.posexplode(_codes_udf(n_planes, n_tables)(F.col(query_vec))).alias("_tbl", "_c0"),
        )
        .withColumn("_code", F.explode(F.slice(probe_arr, 1, n_probe)))
        .drop("_c0")
    )
    cos = _dot("_q", "_v") / (F.col("_qn") * F.col("_vn"))
    w = Window.partitionBy("_qid").orderBy(F.desc("cosine"), F.asc("_vid"))
    # cosine is computed ON the candidate join output and the frame is
    # immediately projected to (qid, vid, cosine): the old plan deduped
    # FIRST, which shuffled both embedding arrays (~100× the bytes)
    # through the dropDuplicates exchange and again into the window
    # (guide §2.3). Duplicate candidates (multi-table/multi-probe
    # collisions, fan-in ≤ n_tables·n_probe) recompute the cosine
    # map-side — a deterministic function of the pair, so the surviving
    # row set is identical.
    return (
        q.join(v, ["_tbl", "_code"])
        .select("_qid", "_vid", cos.alias("cosine"))
        .dropDuplicates(["_qid", "_vid"])
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("_qid").alias(query_id), F.col("_vid").alias(id_col), "cosine", "rank")
    )
