"""Product quantization (PQ): the IVF index codec past int8 scalar
quantization (round 12).

The IVF lifecycle in :mod:`plumberapp_spark.llm.similarity` is one
build / append / delete / compact / serve path parametrized by a codec.
Raw cells store the vectors; the SQ codec (q125-q128) stores one byte
per DIMENSION (4x over float32). :class:`PQCodec` goes a tier further,
FAISS-style IVF-PQ: one byte per SUBSPACE — the vector is split into
``m_sub`` contiguous subvectors, each encoded as the id of its nearest
entry in a per-subspace codebook of ``ks`` entries, so a 64-dim
float32 vector becomes ``m_sub`` bytes (m_sub=8 -> 8 bytes, 32x
compression) and probe scoring collapses to table lookups (ADC —
asymmetric distance computation):

  q . reconstruct(code) == sum_s  q_s . cb[s][code_s]      (exact identity)
  ||reconstruct(code)||^2 == sum_s ||cb[s][code_s]||^2

so a query precomputes one ``m_sub x ks`` lookup table of subvector
dots and scores every code in a probed cell with ``m_sub`` gathers and
an add — O(m_sub) per candidate instead of O(dim), on 1/8th the bytes.

What the codec decides (everything else — cell geometry, deltas,
tombstones, compaction, the exact rerank — is the shared lifecycle):

* **Codebook = md5-sampled anchors, frozen at build** (``codebook``
  side relation, ``(s, j, sub)`` rows). Each subspace's ``ks`` entries
  are the subvectors of the same ``ks`` corpus vectors, chosen by
  ``md5('pq' || id)`` order — the IVF centroid draw with a salt, so
  codebook and centroids draw different vectors. Deterministic and
  oracle-replayable (a k-means codebook —
  :func:`plumberapp_spark.llm.clustering.kmeans_fit` per subspace —
  drops in wherever ``cb`` is consumed, at the price of a
  non-SQL-expressible oracle; the sampled codebook is the parity form,
  exactly like the md5-seeded IVF centroids).
* **Encoding on round-6 distances, ties to the smaller code** —
  ``argmin round(||v_s - cb||^2, 6)`` with ``||a||^2 - 2ab + ||b||^2``
  expanded the same way the DuckDB oracle expands it, the family's
  standard float-bridge. Appends encode under the FROZEN codebook (an
  out-of-distribution delta lands on its nearest frozen entry — drift
  is the monitored-rebuild story, never a silent re-train).
* **Candidate scoring = the ADC sum** above, the reconstructed-vector
  cosine computed without reconstructing.

100 TB posture: index bytes are ``n x m_sub`` — a 100 TB float32
corpus serves from a ~3 TB code store; a probe reads
``nprobe/n_centroids`` of THAT, broadcast-side queries carry an
``m_sub x ks`` LUT each (1 KB at the defaults), and the only
corpus-sized exchange anywhere is the build's partitioned write. The
rerank fetch is |Q| x rerank rows against the full-precision table —
bounded, id-keyed, never a scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from plumberapp_spark.llm.similarity import CodedCodec, _md5_draw

PQ_SALT = "pq"
PQ_IVF_FORMAT = 1


def _pq_anchor_codebook(narrow: DataFrame, id_col: str, vec_col: str, m_sub: int, ks: int):
    """The frozen codebook as an ``(m_sub, ks, sub_dim)`` array:
    ``ks`` anchor vectors in salted-md5 order (j = rank in that
    order), each split into ``m_sub`` contiguous subvectors. One
    bounded collect (ks rows)."""
    import numpy as np

    rows = _md5_draw(narrow, ks, id_col, salt=PQ_SALT)
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    dim = mat.shape[1]
    if dim % m_sub:
        raise ValueError(f"pq: dim {dim} not divisible by m_sub {m_sub}")
    return mat.reshape(ks, m_sub, dim // m_sub).transpose(1, 0, 2)


def pq_encode(vecs, cb):
    """``(n, m_sub)`` int8 codes: per subspace, the index of the
    nearest codebook entry by round-6 squared L2 (expanded as
    ``||v||^2 - 2 v.c + ||c||^2`` — the oracle's expression), ties to
    the smaller index (np.argmin's first-min rule == ORDER BY d, j)."""
    import numpy as np

    m_sub, ks, sub = cb.shape
    n = vecs.shape[0]
    codes = np.empty((n, m_sub), dtype=np.int8)
    for s in range(m_sub):
        v = vecs[:, s * sub : (s + 1) * sub]
        d2 = (
            (v * v).sum(axis=1)[:, None]
            - 2.0 * (v @ cb[s].T)
            + (cb[s] * cb[s]).sum(axis=1)[None, :]
        )
        codes[:, s] = np.argmin(np.round(d2, 6), axis=1)
    return codes


def pq_reconstruct(codes, cb):
    """The served approximation: per row, the concatenation of each
    subspace's selected codebook entry."""
    import numpy as np

    m_sub = cb.shape[0]
    return np.concatenate(
        [cb[s][codes[:, s].astype(np.int64)] for s in range(m_sub)], axis=1
    )


class PQCodec(CodedCodec):
    """IVF-PQ cells: ``cells_pq`` holds ``m_sub`` int8 codes per vector
    under the frozen ``codebook``; candidates score by the ADC
    lookup-table sum. ``m_sub``/``ks`` matter only at build — an index
    on disk carries its codebook, and with it its shape."""

    cells = "cells_pq"
    sides = ("codebook",)
    prefix = "pq"
    format = PQ_IVF_FORMAT

    def __init__(self, m_sub: int = 8, ks: int = 16):
        self.m_sub, self.ks = m_sub, ks

    @property
    def params(self) -> tuple:
        return (self.m_sub, self.ks)

    def fit(self, narrow: DataFrame, path: str, id_col: str, vec_col: str):
        cb = _pq_anchor_codebook(narrow, id_col, vec_col, self.m_sub, self.ks)
        narrow.sparkSession.createDataFrame(
            [
                (s, j, cb[s][j].tolist())
                for s in range(self.m_sub)
                for j in range(self.ks)
            ],
            "s int, j int, sub array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook")
        return cb

    def load(self, spark, path: str):
        import numpy as np

        from plumberapp_spark.session import local_parquet_rows, read_parquet_cached

        rows = local_parquet_rows(f"{path}/codebook", max_rows=1 << 20)
        if rows is None:
            rows = read_parquet_cached(spark, f"{path}/codebook").collect()
        m_sub = max(r["s"] for r in rows) + 1
        ks = max(r["j"] for r in rows) + 1
        sub = len(rows[0]["sub"])
        cb = np.zeros((m_sub, ks, sub), dtype=np.float64)
        for r in rows:
            cb[r["s"]][r["j"]] = list(r["sub"])
        return cb

    def encode(self, vecs, cb):
        return pq_encode(vecs, cb)

    def query_state(self, cb, q_mat, q_norm):
        import numpy as np

        m_sub, ks, sub = cb.shape
        # the per-query LUTs: (|Q|, m_sub, ks) subvector dots — the whole
        # ADC state each executor needs, ~1 KB/query at the defaults —
        # plus the per-entry squared norms ||reconstruct(code)||^2
        # gathers from
        q_lut = np.einsum("qsd,skd->qsk", q_mat.reshape(len(q_mat), m_sub, sub), cb)
        return q_lut, q_norm, (cb * cb).sum(axis=2)

    def batch_scorer(self, pdf, vec_col: str, qstate):
        import numpy as np

        q_lut, q_norm, cb_n2 = qstate
        s_idx = np.arange(cb_n2.shape[0])
        codes = np.array(pdf["_code"].tolist(), dtype=np.int64)  # (n, m)
        # ||de||: one gather, query-independent
        d_norm = np.sqrt(cb_n2[s_idx[None, :], codes].sum(axis=1))

        def score(rows, qpos):
            c_rows, dn = codes[rows], d_norm[rows]
            out = np.empty((len(rows), len(qpos)))
            for j, qi in enumerate(qpos):
                # q . de == LUT gathers summed over subspaces
                dots = q_lut[qi][s_idx[None, :], c_rows].sum(axis=1)
                denom = q_norm[qi] * dn
                sims = np.zeros(len(rows))
                np.divide(dots, denom, out=sims, where=denom > 0)
                out[:, j] = np.round(sims, 6)
            return out

        return score


def pq_compression_stats(
    corpus: DataFrame,
    m_sub: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The PQ data card: corpus size, fp32 vs code bytes (the
    compression multiple an operator is buying), and the
    reconstruction error it costs (max-abs and MSE over the corpus
    under the frozen codebook) — q126's card at the next compression
    tier. One bounded codebook collect + one Arrow error pass folded
    to a single row."""
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    narrow = corpus.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    cb = _pq_anchor_codebook(narrow, id_col, vec_col, m_sub, ks)
    bc = spark.sparkContext.broadcast(cb)

    def err(batches):
        cb_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            de = pq_reconstruct(pq_encode(vecs, cb_), cb_)
            diff = np.abs(vecs - de)
            yield pd.DataFrame(
                {
                    "_n": [len(vecs)],
                    "_dim": [vecs.shape[1]],
                    "_sq": [float((diff * diff).sum())],
                    "_mx": [float(diff.max())],
                }
            )

    parts = narrow.mapInPandas(err, "_n long, _dim int, _sq double, _mx double")
    return parts.groupBy().agg(
        F.sum("_n").alias("n_vecs"),
        F.max("_dim").alias("dim"),
        F.lit(int(m_sub)).alias("m_sub"),
        F.lit(int(ks)).alias("ks"),
        (F.sum("_n") * F.max("_dim") * 4).cast("bigint").alias("fp32_bytes"),
        (F.sum("_n") * m_sub).cast("bigint").alias("code_bytes"),
        F.round(F.max("_dim") * 4.0 / m_sub, 6).alias("compression_x"),
        F.round(F.max("_mx"), 6).alias("max_abs_err"),
        F.round(F.sum("_sq") / (F.sum("_n") * F.max("_dim")), 10).alias("mse"),
    )
