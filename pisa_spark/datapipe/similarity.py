"""Embedding similarity: near-dup pairs + ANN top-k (brute, IVF, LSH).

Cross-engine exactness: every embedding component is quantized to an
int (``q = FLOOR(x*1e4 + 0.5)``) BEFORE any arithmetic, so dot
products and squared norms are order-independent int64 sums that
DuckDB reproduces exactly; the only float ops are one SQRT and one
division on exact integers (IEEE-identical everywhere):

    cos_micro = FLOOR(dot_q / (SQRT(na_q) * SQRT(nb_q)) * 1e6 + 0.5)

Spark side: the embedding matrix rides a broadcast into
``mapInPandas`` numpy kernels (int64 GEMM) — the brute-force scale
pattern is "broadcast the small query side, stream the 100 TB base
side per partition, emit partial top-k, merge with a window", which
is exactly what ``ann_topk`` does. ``ivf_topk`` adds the
coarse-quantizer scale path: assign base vectors to centroid cells,
probe only the closest cells per query. ``lsh_topk`` adds the
hyperplane-LSH scale path: md5-derived Rademacher sign bits banded
into bucket keys, candidates share a bucket (the minhash-banding
pattern applied to embeddings).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from pisa_spark.functions.scoring import dlit

QSCALE = 10_000.0  # per-component quantization
# Near-dup threshold. The synthetic embeddings are not L2-clustered
# tightly (max pairwise cosine ~0.51 at sf0.01), so the gate uses a
# threshold that yields a non-trivial pair set; a production run
# would use ~0.95.
COS_TAU_MICRO = 400_000
N_QUERIES = 10  # vec_id < N_QUERIES are the ANN query vectors
N_CENTROIDS = 8  # vec_id < N_CENTROIDS seed the IVF coarse quantizer
N_PROBE = 2
# Cells with more than MAX_CELL members are dropped before the
# candidate self-join (the embedding twin of dedup.MAX_BUCKET): a
# C-member cell emits C*(C-1)/2 candidates, so one dominant cell
# (boilerplate embeddings, or an unlucky seed centroid) makes the
# join quadratic. Dropped cells are reported by
# ``embedding_dropped_cells`` — a pipeline should alert on rows there
# (and retrain centroids / raise n_centroids) rather than silently
# treating those vectors as unique.
MAX_CELL = 4096
# Random-hyperplane LSH (the second indexed ANN scale path, next to
# IVF): N_PLANES sign bits per vector, split into LSH_BANDS bands of
# N_PLANES/LSH_BANDS bits; candidates share >=1 band bucket. Buckets
# larger than LSH_MAX_BUCKET are dropped before the candidate join —
# the same quadratic-bucket guard as dedup.MAX_BUCKET / MAX_CELL.
N_PLANES = 16
LSH_BANDS = 4
LSH_MAX_BUCKET = 4096


def _quantize(mat: np.ndarray) -> np.ndarray:
    return np.floor(mat.astype(np.float64) * QSCALE + 0.5).astype(np.int64)


def _collect_matrix(emb: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(vec_ids, quantized matrix) sorted by vec_id. The collected
    side must be the SMALL side (queries/centroids/near-dup base at
    test scale); at 100 TB the base side streams through mapInPandas
    and is never collected."""
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return ids, _quantize(mat)


def _cos_micro(dot_q: np.ndarray, na: np.ndarray, nb: np.ndarray) -> np.ndarray:
    denom = np.sqrt(na.astype(np.float64)) * np.sqrt(nb.astype(np.float64))
    return np.floor(dot_q / denom * 1e6 + 0.5).astype(np.int64)


# ------------------------------------------------------------ near-dup pairs

def _qarr_expr(col: str = "embedding") -> str:
    """Catalyst: embedding -> int64 quantized component array."""
    return (
        f"transform({col}, x -> CAST(FLOOR(CAST(x AS DOUBLE) * "
        f"{dlit(QSCALE)} + {dlit(0.5)}) AS BIGINT))"
    )


def _n2_expr(qcol: str = "qarr") -> str:
    return f"aggregate({qcol}, CAST(0 AS BIGINT), (acc, v) -> acc + v * v)"


def _dot_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )


def _cosm_expr(dot: str, na: str, nb: str) -> str:
    return (
        f"CAST(FLOOR(CAST({dot} AS DOUBLE) / (SQRT(CAST({na} AS DOUBLE)) * "
        f"SQRT(CAST({nb} AS DOUBLE))) * {dlit(1e6)} + {dlit(0.5)}) AS BIGINT)"
    )


def _cell_assignments(emb: DataFrame, n_centroids: int,
                      n_probe: int) -> DataFrame:
    """(vec_id, cell): every vector assigned to its n_probe closest
    coarse cells (centroids = first n_centroids vectors)."""
    q = (
        emb.select("vec_id", F.expr(_qarr_expr()).alias("qarr"))
        .withColumn("n2", F.expr(_n2_expr()))
    )
    cent = q.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"),
        F.col("qarr").alias("carr"),
        F.col("n2").alias("cn2"),
    )
    cos_c = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("dot", F.expr(_dot_expr("qarr", "carr")))
        .withColumn("cm", F.expr(_cosm_expr("dot", "n2", "cn2")))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cm").desc(), F.col("cid").asc()
    )
    return (
        cos_c.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= n_probe)
        .select("vec_id", F.col("cid").alias("cell"))
    )


def embedding_dup_pairs(emb: DataFrame, tau_micro: int = COS_TAU_MICRO,
                        n_centroids: int = N_CENTROIDS,
                        n_probe: int = N_PROBE,
                        max_cell: int = MAX_CELL,
                        assign: DataFrame | None = None,
                        dropped: DataFrame | None = None) -> DataFrame:
    """(vec_a, vec_b, cos_micro >= tau): quantized-cosine near-dups
    via an IVF-cell prefilter — the 100 TB shape.

    Every vector (base AND probe side symmetrically) is assigned to
    its ``n_probe`` closest coarse cells (centroids = first
    ``n_centroids`` vectors, as in ivf_topk); candidate pairs are
    vectors sharing a cell; candidates are verified with the exact
    quantized cosine. Nothing is ever collected to the driver and no
    all-pairs product exists anywhere: the only joins are a broadcast
    of the tiny centroid set, a self-equi-join on cell id, and two
    hash joins to fetch candidate features. Entirely
    Catalyst-native (transform/zip_with/aggregate int64 math — no
    Python at all). Cells over ``max_cell`` members are dropped
    before the self-join (quadratic-cell guard; audit via
    ``embedding_dropped_cells``). Recall vs the exhaustive operator is
    pinned in tests/test_datapipe.py; ``embedding_dup_pairs_exhaustive``
    remains the small-scale baseline.

    ``assign``: optionally pass a precomputed ``_cell_assignments``
    frame so callers that also run the dropped-cell audit share one
    assignment job instead of two (see gated entries'
    _embedding_cosine_union)."""
    q = (
        emb.select("vec_id", F.expr(_qarr_expr()).alias("qarr"))
        .withColumn("n2", F.expr(_n2_expr()))
    )
    if assign is None:
        # eager localCheckpoint: the over-cap agg and both self-join
        # sides read one assignment job (callers that share pass a
        # pre-materialized ``assign`` per the docstring)
        assign = _cell_assignments(emb, n_centroids, n_probe) \
            .localCheckpoint(eager=True)
    # The shared caps.py guard, HINTED: cell ids are bounded by
    # ``n_centroids``, so the over-cap set is provably known-small
    # and the cap filter stays map-side. ``dropped``: pass a
    # pre-materialized embedding_dropped_cells frame so the over-cap
    # aggregation runs ONCE for the cap and the audit.
    from pisa_spark.datapipe.caps import drop_overcap, overcap_keys

    if dropped is None:
        dropped = overcap_keys(assign, ["cell"], max_cell, size_col="cell_size")
    capped = drop_overcap(assign, ["cell"], dropped, max_cell,
                          hint_broadcast=True, size_col="cell_size")
    x = capped.select(F.col("vec_id").alias("vec_a"), "cell")
    y = capped.select(F.col("vec_id").alias("vec_b"), "cell")
    cand = (
        x.join(y, "cell")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    qa = q.select(
        F.col("vec_id").alias("vec_a"), F.col("qarr").alias("qa"),
        F.col("n2").alias("na"),
    )
    qb = q.select(
        F.col("vec_id").alias("vec_b"), F.col("qarr").alias("qb"),
        F.col("n2").alias("nb"),
    )
    return (
        cand.join(qa, "vec_a")
        .join(qb, "vec_b")
        .withColumn("dot", F.expr(_dot_expr("qa", "qb")))
        .withColumn("cos_micro", F.expr(_cosm_expr("dot", "na", "nb")))
        .filter(F.col("cos_micro") >= tau_micro)
        .select("vec_a", "vec_b", "cos_micro")
    )


def embedding_dropped_cells(emb: DataFrame, n_centroids: int = N_CENTROIDS,
                            n_probe: int = N_PROBE,
                            max_cell: int = MAX_CELL,
                            assign: DataFrame | None = None) -> DataFrame:
    """(cell, cell_size) for every IVF cell the cap excluded — the
    audit trail for embedding_dup_pairs' coverage, mirroring
    dedup.minhash_dropped_buckets. ``assign`` as in
    embedding_dup_pairs."""
    from pisa_spark.datapipe.caps import overcap_keys

    if assign is None:
        assign = _cell_assignments(emb, n_centroids, n_probe)
    return overcap_keys(assign, ["cell"], max_cell, size_col="cell_size")


def ivf_train_centroids(emb: DataFrame, n_centroids: int = N_CENTROIDS,
                        iters: int = 2) -> DataFrame:
    """(cid, carr): first-N seed centroids refined by ``iters`` Lloyd
    passes — assign every vector to its max-cosine cell, recenter each
    cell to the component-wise mean (floor-quantized back to the int
    domain). Balances cell sizes when the first-N seed is unlucky
    (the residual risk behind MAX_CELL); fully distributed — the only
    non-lazy step per pass is an eager localCheckpoint of the
    centroid table (n_centroids rows).

    The gated operators keep the deterministic first-N seed (oracle
    parity); production pipelines pass these refined centroids to a
    bespoke assignment instead."""
    q = (
        emb.select("vec_id", F.expr(_qarr_expr()).alias("qarr"))
        .withColumn("n2", F.expr(_n2_expr()))
    )
    cent = q.filter(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("qarr").alias("carr")
    )
    for _ in range(iters):
        cc = cent.withColumn(
            "cn2", F.expr(_n2_expr("carr"))
        )
        cos_c = (
            q.crossJoin(F.broadcast(cc))
            .withColumn("dot", F.expr(_dot_expr("qarr", "carr")))
            .withColumn("cm", F.expr(_cosm_expr("dot", "n2", "cn2")))
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("cm").desc(), F.col("cid").asc()
        )
        assigned = (
            cos_c.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select("vec_id", "cid", "qarr")
        )
        # recenter: component-wise mean per cell, floored back to int
        means = (
            assigned.select(
                "cid", F.posexplode("qarr").alias("pos", "qv")
            )
            .groupBy("cid", "pos")
            .agg(F.floor(F.avg("qv") + F.lit(0.5)).cast("long").alias("m"))
        )
        cent = (
            means.groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select("cid", F.expr("transform(pm, x -> x.m)").alias("carr"))
            # iterative loop: checkpoint each pass or the crossJoin
            # lineage compounds (CLAUDE.md / build/bp.py convention)
            .localCheckpoint(eager=True)
        )
    return cent


def embedding_dup_pairs_exhaustive(emb: DataFrame, tau_micro: int = COS_TAU_MICRO) -> DataFrame:
    """(vec_a, vec_b, cos_micro >= tau): EXHAUSTIVE quantized-cosine
    near-dups — the recall baseline for embedding_dup_pairs, small
    scale only (collects + broadcasts the whole base matrix for an
    all-pairs GEMM; do not run on a large table)."""
    spark = emb.sparkSession
    ids, q = _collect_matrix(emb)
    norms = (q * q).sum(axis=1)
    b_ids = spark.sparkContext.broadcast(ids)
    b_q = spark.sparkContext.broadcast(q)
    b_norms = spark.sparkContext.broadcast(norms)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            a_ids = pdf["vec_id"].to_numpy(np.int64)
            a_q = _quantize(np.array(list(pdf["embedding"]), dtype=np.float64))
            a_n = (a_q * a_q).sum(axis=1)
            dots = a_q @ b_q.value.T  # int64 GEMM
            cm = _cos_micro(dots, a_n[:, None], b_norms.value[None, :])
            ai, bi = np.nonzero(
                (cm >= tau_micro) & (a_ids[:, None] < b_ids.value[None, :])
            )
            yield pd.DataFrame(
                {
                    "vec_a": a_ids[ai],
                    "vec_b": b_ids.value[bi],
                    "cos_micro": cm[ai, bi],
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        kernel, "vec_a long, vec_b long, cos_micro long"
    )


def _quant_dot_cte(left: str, right: str) -> str:
    """DuckDB CTE body: quantized components + pairwise dot/norms."""
    return f"""qc AS (
  SELECT vec_id,
         CAST(FLOOR(e.val * {dlit(QSCALE)} + {dlit(0.5)}) AS BIGINT) AS q,
         e.pos
  FROM (
    SELECT vec_id, unnest(embedding) AS val,
           generate_subscripts(embedding, 1) AS pos
    FROM embeddings
  ) e
),
nrm AS (SELECT vec_id, SUM(q * q) AS n2 FROM qc GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, SUM(a.q * b.q) AS dot
  FROM qc a JOIN qc b ON a.pos = b.pos AND {left} AND {right}
  GROUP BY a.vec_id, b.vec_id
)"""


_COS_EXPR = (
    f"CAST(FLOOR(CAST(d.dot AS DOUBLE) / (SQRT(CAST(na.n2 AS DOUBLE)) *"
    f" SQRT(CAST(nb.n2 AS DOUBLE))) * {dlit(1e6)} + {dlit(0.5)}) AS BIGINT)"
)


def embedding_dup_oracle(tau_micro: int = COS_TAU_MICRO,
                         n_centroids: int = N_CENTROIDS,
                         n_probe: int = N_PROBE,
                         max_cell: int = MAX_CELL,
                         audit: bool = False) -> str:
    """Same IVF-prefilter algorithm in DuckDB: assign every vector to
    its n_probe closest cells, drop over-cap cells, pair within
    cells, verify exact quantized cosine. With ``audit`` the statement
    returns the tagged union the gate entry uses — 'pair' rows plus
    'dropped_cell' audit rows (embedding_dropped_cells parity) in one
    (kind, a, b, v) frame."""
    audit_union = f"""
SELECT 'pair' AS kind, vec_a AS a, vec_b AS b, cos_micro AS v FROM final
UNION ALL
SELECT 'dropped_cell' AS kind, CAST(cell AS BIGINT) AS a,
       CAST(csz AS BIGINT) AS b, CAST(0 AS BIGINT) AS v
FROM (SELECT cell, COUNT(*) AS csz FROM assign GROUP BY cell) dc
WHERE csz > {max_cell}""" if audit else \
        "SELECT vec_a, vec_b, cos_micro FROM final"
    return f"""WITH {_quant_dot_cte('TRUE', f'b.vec_id < {n_centroids}')},
cos_all AS (
  SELECT d.va AS vec_id, d.vb AS cid, {_COS_EXPR} AS cm
  FROM dots d
  JOIN nrm na ON na.vec_id = d.va
  JOIN nrm nb ON nb.vec_id = d.vb
),
assign AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cm DESC, cid ASC) AS r
    FROM cos_all
  ) z WHERE r <= {n_probe}
),
capped AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, COUNT(*) OVER (PARTITION BY cell) AS csz
    FROM assign
  ) zz WHERE csz <= {max_cell}
),
cand AS (
  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
  FROM capped x JOIN capped y ON x.cell = y.cell AND x.vec_id < y.vec_id
),
qc2 AS (SELECT * FROM qc),
pairdots AS (
  SELECT c.vec_a, c.vec_b, SUM(qa.q * qb.q) AS dot
  FROM cand c
  JOIN qc qa ON qa.vec_id = c.vec_a
  JOIN qc2 qb ON qb.vec_id = c.vec_b AND qb.pos = qa.pos
  GROUP BY c.vec_a, c.vec_b
),
final AS (
  SELECT vec_a, vec_b, cos_micro FROM (
    SELECT pd.vec_a, pd.vec_b,
           CAST(FLOOR(CAST(pd.dot AS DOUBLE) / (SQRT(CAST(na.n2 AS DOUBLE)) *
                SQRT(CAST(nb.n2 AS DOUBLE))) * {dlit(1e6)} + {dlit(0.5)}) AS BIGINT)
             AS cos_micro
    FROM pairdots pd
    JOIN nrm na ON na.vec_id = pd.vec_a
    JOIN nrm nb ON nb.vec_id = pd.vec_b
  ) s WHERE cos_micro >= {tau_micro}
)
{audit_union}"""


# ----------------------------------------------------------------- ANN topk

def ann_topk(emb: DataFrame, k: int = 10, n_queries: int = N_QUERIES) -> DataFrame:
    """(q_vec_id, rank, vec_id, cos_micro): exact cosine top-k of each
    query vector (vec_id < n_queries) over the base set, self
    excluded. PARTIAL top-k per Arrow batch (the global top-k of a
    union equals the top-k of the per-chunk top-k's, so results are
    identical) + window merge: the shuffle carries
    O(queries x k x batches) rows, never O(queries x corpus)."""
    spark = emb.sparkSession
    queries = emb.filter(F.col("vec_id") < n_queries)
    q_ids, q_mat = _collect_matrix(queries)
    q_norms = (q_mat * q_mat).sum(axis=1)
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_norms))

    def kernel(batches):
        q_ids_, q_mat_, q_norms_ = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            b_ids = pdf["vec_id"].to_numpy(np.int64)
            b_qm = _quantize(np.array(list(pdf["embedding"]), dtype=np.float64))
            b_n = (b_qm * b_qm).sum(axis=1)
            dots = q_mat_ @ b_qm.T
            cm = _cos_micro(dots, q_norms_[:, None], b_n[None, :])
            out_q, out_v, out_c = [], [], []
            for qi in range(len(q_ids_)):
                mask = b_ids != q_ids_[qi]
                row, ids = cm[qi][mask], b_ids[mask]
                if len(row) > k:
                    # batch-local top-k, same (cos desc, vec_id asc)
                    # order as the window merge
                    sel = np.lexsort((ids, -row))[:k]
                    row, ids = row[sel], ids[sel]
                out_q.append(np.full(len(ids), q_ids_[qi], np.int64))
                out_v.append(ids)
                out_c.append(row)
            yield pd.DataFrame(
                {
                    "q_vec_id": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "cos_micro": np.concatenate(out_c),
                }
            )

    scored = emb.select("vec_id", "embedding").mapInPandas(
        kernel, "q_vec_id long, vec_id long, cos_micro long"
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cos_micro").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_vec_id", F.col("rank").cast("long"), "vec_id", "cos_micro")
    )


def ann_topk_oracle(k: int = 10, n_queries: int = N_QUERIES) -> str:
    return f"""WITH {_quant_dot_cte(f'a.vec_id < {n_queries}', 'a.vec_id <> b.vec_id')},
scored AS (
  SELECT d.va AS q_vec_id, d.vb AS vec_id, {_COS_EXPR} AS cos_micro
  FROM dots d
  JOIN nrm na ON na.vec_id = d.va
  JOIN nrm nb ON nb.vec_id = d.vb
),
ranked AS (
  SELECT q_vec_id, vec_id, cos_micro,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                 ORDER BY cos_micro DESC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
)
SELECT q_vec_id, rank, vec_id, cos_micro FROM ranked WHERE rank <= {k}"""


# ------------------------------------------------------------------ IVF ANN

def ivf_topk(emb: DataFrame, k: int = 5, n_queries: int = N_QUERIES,
             n_centroids: int = N_CENTROIDS, n_probe: int = N_PROBE) -> DataFrame:
    """IVF coarse quantizer: cells seeded by the first n_centroids
    vectors (deterministic, no training loop); every base vector is
    assigned to its max-cosine cell; each query probes its n_probe
    closest cells and ranks only those cells' members.

    The scale path: base assignment is one broadcast-GEMM pass;
    probing reads ~n_probe/n_centroids of the base. Top-k semantics
    identical to ann_topk but restricted to probed cells.
    """
    spark = emb.sparkSession
    c_ids, c_mat = _collect_matrix(emb.filter(F.col("vec_id") < n_centroids))
    c_norms = (c_mat * c_mat).sum(axis=1)
    bc = spark.sparkContext.broadcast((c_ids, c_mat, c_norms))

    def assign(batches):
        c_ids_, c_mat_, c_norms_ = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            q = _quantize(np.array(list(pdf["embedding"]), dtype=np.float64))
            n2 = (q * q).sum(axis=1)
            cm = _cos_micro(q @ c_mat_.T, n2[:, None], c_norms_[None, :])
            # max cosine, tie -> lowest centroid index (argmax = first max)
            cell = np.argmax(cm == cm.max(axis=1, keepdims=True), axis=1)
            yield pd.DataFrame({"vec_id": ids, "cell": cell.astype(np.int64)})

    assigned = emb.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, cell long"
    )
    base = emb.join(assigned, "vec_id")

    # Queries probe their n_probe best cells (computed the same way).
    queries = emb.filter(F.col("vec_id") < n_queries)
    q_ids, q_mat = _collect_matrix(queries)
    q_norms = (q_mat * q_mat).sum(axis=1)
    qcm = _cos_micro(q_mat @ c_mat.T, q_norms[:, None], c_norms[None, :])
    probe_rows = []
    for qi, qid in enumerate(q_ids):
        order = np.lexsort((np.arange(qcm.shape[1]), -qcm[qi]))[:n_probe]
        for cell in order:
            probe_rows.append((int(qid), int(cell)))
    probes = spark.createDataFrame(
        pd.DataFrame(probe_rows, columns=["q_vec_id", "cell"]),
        schema="q_vec_id long, cell long",
    )

    cand = base.join(probes, "cell").select("q_vec_id", "vec_id", "embedding")
    return _rank_candidates(emb, cand, n_queries, k, q_matrix=(q_ids, q_mat))


def _rank_candidates(emb: DataFrame, cand: DataFrame, n_queries: int,
                     k: int,
                     q_matrix: tuple[np.ndarray, np.ndarray] | None = None,
                     ) -> DataFrame:
    """Exact quantized cosine over a ``(q_vec_id, vec_id)`` candidate
    set: broadcast the query matrix (small by construction), stream
    the candidates through one Arrow kernel emitting per-batch PARTIAL
    top-k (identical final result; the shuffle carries
    O(queries x k x batches) rows), window-merge to per-query top-k.
    Shared by ivf_topk and lsh_topk — candidate GENERATION is the
    only difference between the indexed ANN variants. ``q_matrix``
    lets a caller that already collected (q_ids, q_mat) pass it in
    instead of paying a second collect job + duplicate broadcast."""
    spark = emb.sparkSession
    if q_matrix is None:
        q_matrix = _collect_matrix(emb.filter(F.col("vec_id") < n_queries))
    q_ids, q_mat = q_matrix
    q_norms = (q_mat * q_mat).sum(axis=1)
    bq = spark.sparkContext.broadcast((q_ids, q_mat, q_norms))

    def score(batches):
        q_ids_, q_mat_, q_norms_ = bq.value
        pos = {int(v): i for i, v in enumerate(q_ids_)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            b_ids = pdf["vec_id"].to_numpy(np.int64)
            b_qm = _quantize(np.array(list(pdf["embedding"]), dtype=np.float64))
            b_n = (b_qm * b_qm).sum(axis=1)
            qrow = np.array([pos[int(x)] for x in pdf["q_vec_id"]], dtype=np.int64)
            dots = np.einsum("ij,ij->i", q_mat_[qrow], b_qm)
            cm = _cos_micro(dots, q_norms_[qrow], b_n)
            keep = pdf["q_vec_id"].to_numpy(np.int64) != b_ids
            qv = pdf["q_vec_id"].to_numpy(np.int64)[keep]
            bv, cv = b_ids[keep], cm[keep]
            # batch-local per-query top-k, same (cos desc, vec_id asc)
            # order as the window merge — identical final result
            order = np.lexsort((bv, -cv, qv))
            qv, bv, cv = qv[order], bv[order], cv[order]
            starts = np.flatnonzero(np.r_[True, qv[1:] != qv[:-1]])
            ends = np.r_[starts[1:], len(qv)]
            sel = np.concatenate(
                [np.arange(s, min(s + k, e)) for s, e in zip(starts, ends)]
            ) if len(starts) else np.empty(0, np.int64)
            yield pd.DataFrame(
                {
                    "q_vec_id": qv[sel],
                    "vec_id": bv[sel],
                    "cos_micro": cv[sel],
                }
            )

    if "embedding" not in cand.columns:
        cand = cand.join(emb.select("vec_id", "embedding"), "vec_id")
    scored = cand.select("q_vec_id", "vec_id", "embedding").mapInPandas(
        score, "q_vec_id long, vec_id long, cos_micro long"
    )
    w = Window.partitionBy("q_vec_id").orderBy(
        F.col("cos_micro").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_vec_id", F.col("rank").cast("long"), "vec_id", "cos_micro")
    )


def ivf_topk_oracle(k: int = 5, n_queries: int = N_QUERIES,
                    n_centroids: int = N_CENTROIDS, n_probe: int = N_PROBE) -> str:
    """Same IVF semantics in pure SQL: assignment = rank-1 cosine vs
    centroid set; probes = rank<=n_probe cells; then windowed top-k."""
    return f"""WITH {_quant_dot_cte('TRUE', f'b.vec_id < {n_centroids}')},
cos_all AS (
  SELECT d.va AS vec_id, d.vb AS centroid, {_COS_EXPR} AS cm
  FROM dots d
  JOIN nrm na ON na.vec_id = d.va
  JOIN nrm nb ON nb.vec_id = d.vb
),
assign AS (
  SELECT vec_id, centroid AS cell FROM (
    SELECT vec_id, centroid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cm DESC, centroid ASC) AS r
    FROM cos_all
  ) WHERE r = 1
),
probes AS (
  SELECT vec_id AS q_vec_id, centroid AS cell FROM (
    SELECT vec_id, centroid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cm DESC, centroid ASC) AS r
    FROM cos_all WHERE vec_id < {n_queries}
  ) WHERE r <= {n_probe}
),
qc2 AS (SELECT * FROM qc),
pairdots AS (
  SELECT p.q_vec_id, a.vec_id, SUM(qa.q * qb.q) AS dot
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_vec_id
  JOIN qc qa ON qa.vec_id = p.q_vec_id
  JOIN qc2 qb ON qb.vec_id = a.vec_id AND qb.pos = qa.pos
  GROUP BY p.q_vec_id, a.vec_id
),
scored AS (
  SELECT pd.q_vec_id, pd.vec_id,
         CAST(FLOOR(CAST(pd.dot AS DOUBLE) / (SQRT(CAST(na.n2 AS DOUBLE)) *
              SQRT(CAST(nb.n2 AS DOUBLE))) * {dlit(1e6)} + {dlit(0.5)}) AS BIGINT) AS cos_micro
  FROM pairdots pd
  JOIN nrm na ON na.vec_id = pd.q_vec_id
  JOIN nrm nb ON nb.vec_id = pd.vec_id
)
SELECT q_vec_id, rank, vec_id, cos_micro FROM (
  SELECT q_vec_id, vec_id, cos_micro,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                 ORDER BY cos_micro DESC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {k}"""


# ------------------------------------------------------- hyperplane LSH ANN

def _hyperplanes(n_planes: int, dim: int) -> np.ndarray:
    """Deterministic Rademacher hyperplanes: component (p, pos) is +1
    iff the shared md5 hash of ``lshp_{p}_{pos}`` is even (pos is
    1-based to match DuckDB's generate_subscripts) — so Python/numpy
    and the SQL oracle derive the IDENTICAL matrix with no literals
    shipped between engines."""
    from pisa_spark.datapipe.hashing import hash60_py

    h = np.empty((n_planes, dim), dtype=np.int64)
    for p in range(n_planes):
        for i in range(dim):
            h[p, i] = 1 if hash60_py(f"lshp_{p}_{i + 1}") % 2 == 0 else -1
    return h


def lsh_band_assignments(emb: DataFrame, n_planes: int = N_PLANES,
                         n_bands: int = LSH_BANDS) -> DataFrame:
    """(vec_id, band, bkey): random-hyperplane signature bits packed
    into per-band integer keys. One Arrow map pass over the base set
    (int64 GEMM against the n_planes x dim hyperplane matrix); no
    shuffle. Sign rule: bit = 1 iff the quantized dot product >= 0
    (exact int64 sum, tie -> 1 in both engines)."""
    rows = n_planes // n_bands
    if rows * n_bands != n_planes:
        raise ValueError("n_planes must be a multiple of n_bands")

    def kernel(batches):
        H = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _quantize(np.array(list(pdf["embedding"]), dtype=np.float64))
            if H is None:
                H = _hyperplanes(n_planes, mat.shape[1])
            bits = (mat @ H.T) >= 0  # (n, n_planes) sign bits
            ids = pdf["vec_id"].to_numpy(np.int64)
            out_id, out_band, out_key = [], [], []
            for b in range(n_bands):
                key = np.zeros(len(mat), dtype=np.int64)
                for r in range(rows):
                    key |= bits[:, b * rows + r].astype(np.int64) << r
                out_id.append(ids)
                out_band.append(np.full(len(mat), b, dtype=np.int64))
                out_key.append(key)
            yield pd.DataFrame(
                {
                    "vec_id": np.concatenate(out_id),
                    "band": np.concatenate(out_band),
                    "bkey": np.concatenate(out_key),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        kernel, "vec_id long, band long, bkey long"
    )


def lsh_topk(emb: DataFrame, k: int = 5, n_queries: int = N_QUERIES,
             n_planes: int = N_PLANES, n_bands: int = LSH_BANDS,
             max_bucket: int = LSH_MAX_BUCKET) -> DataFrame:
    """LSH-bucketed ANN top-k (q_vec_id, rank, vec_id, cos_micro):
    candidates = base vectors sharing >=1 hyperplane band bucket with
    the query (self excluded, over-cap buckets dropped first), then
    exact quantized-cosine ranking of the candidate set.

    Scale shape (the minhash-banding twin for embeddings): signatures
    are one map pass; the bucket join shuffles on (band, bkey) whose
    cardinality the band width controls; MAX bucket size bounds the
    candidate join exactly like dedup.MAX_BUCKET. Approximate BY
    ALGORITHM (recall < 1 for non-identical neighbors); the oracle
    implements the identical algorithm so agreement stays exact."""
    bands = lsh_band_assignments(emb, n_planes, n_bands)
    sizes = bands.groupBy("band", "bkey").agg(F.count("*").alias("bsz"))
    kept = (
        bands.join(sizes.filter(F.col("bsz") <= max_bucket), ["band", "bkey"])
        .select("vec_id", "band", "bkey")
    )
    qb = kept.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_vec_id"), "band", "bkey"
    )
    cand = (
        qb.join(kept, ["band", "bkey"])
        .filter(F.col("vec_id") != F.col("q_vec_id"))
        .select("q_vec_id", "vec_id")
        .distinct()
    )
    return _rank_candidates(emb, cand, n_queries, k)


def lsh_topk_oracle(k: int = 5, n_queries: int = N_QUERIES,
                    n_planes: int = N_PLANES, n_bands: int = LSH_BANDS,
                    max_bucket: int = LSH_MAX_BUCKET) -> str:
    """Identical LSH algorithm in DuckDB: the hyperplane matrix is
    re-derived from md5 parity (hashing.hash60 convention), signature
    bits from the same quantized int64 dot sums, band keys from the
    same bit packing — then the same candidate join and exact ranking."""
    from pisa_spark.datapipe.hashing import hash60_sql

    rows = n_planes // n_bands
    plane_hash = hash60_sql(
        "'lshp_' || CAST(t.p AS VARCHAR) || '_' || CAST(d.pos AS VARCHAR)",
        "duckdb",
    )
    return f"""WITH {_quant_dot_cte('TRUE', 'FALSE')},
dims AS (SELECT DISTINCT pos FROM qc),
planes AS (
  SELECT t.p AS plane, d.pos,
         CASE WHEN ({plane_hash} % 2) = 0
              THEN 1 ELSE -1 END AS h
  FROM range({n_planes}) t(p) CROSS JOIN dims d
),
bits AS (
  SELECT q.vec_id, p.plane,
         CASE WHEN SUM(q.q * p.h) >= 0 THEN 1 ELSE 0 END AS bit
  FROM qc q JOIN planes p ON p.pos = q.pos
  GROUP BY q.vec_id, p.plane
),
bands AS (
  SELECT vec_id, plane // {rows} AS band,
         SUM(bit << (plane % {rows})) AS bkey
  FROM bits GROUP BY vec_id, (plane // {rows})
),
sizes AS (SELECT band, bkey, COUNT(*) AS bsz FROM bands GROUP BY band, bkey),
kept AS (
  SELECT b.vec_id, b.band, b.bkey
  FROM bands b JOIN sizes s ON s.band = b.band AND s.bkey = b.bkey
  WHERE s.bsz <= {max_bucket}
),
cand AS (
  SELECT DISTINCT q.vec_id AS q_vec_id, b.vec_id
  FROM kept q JOIN kept b ON b.band = q.band AND b.bkey = q.bkey
                         AND b.vec_id <> q.vec_id
  WHERE q.vec_id < {n_queries}
),
qc2 AS (SELECT * FROM qc),
pairdots AS (
  SELECT c.q_vec_id, c.vec_id, SUM(qa.q * qb.q) AS dot
  FROM cand c
  JOIN qc qa ON qa.vec_id = c.q_vec_id
  JOIN qc2 qb ON qb.vec_id = c.vec_id AND qb.pos = qa.pos
  GROUP BY c.q_vec_id, c.vec_id
),
scored AS (
  SELECT pd.q_vec_id, pd.vec_id,
         CAST(FLOOR(CAST(pd.dot AS DOUBLE) / (SQRT(CAST(na.n2 AS DOUBLE)) *
              SQRT(CAST(nb.n2 AS DOUBLE))) * {dlit(1e6)} + {dlit(0.5)}) AS BIGINT) AS cos_micro
  FROM pairdots pd
  JOIN nrm na ON na.vec_id = pd.q_vec_id
  JOIN nrm nb ON nb.vec_id = pd.vec_id
)
SELECT q_vec_id, rank, vec_id, cos_micro FROM (
  SELECT q_vec_id, vec_id, cos_micro,
         CAST(ROW_NUMBER() OVER (PARTITION BY q_vec_id
                                 ORDER BY cos_micro DESC, vec_id ASC) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= {k}"""
