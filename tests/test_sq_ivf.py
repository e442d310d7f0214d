"""The scalar-quantized IVF tier (round 11, VERDICT r10 "What's
missing" #5): int8 codes in the cells, exact rerank against the
full-precision store.

Contracts pinned here:
* the quantize/dequantize rule is bit-identical to the documented
  floor-half-up formula (numpy reference);
* ``rerank`` large enough to cover every probed cell makes the search
  bit-identical to the uncompressed :func:`ivf_topk_indexed` — the
  compression changes WHERE candidates come from, never how the
  survivors are scored;
* the on-disk code cells are materially smaller than the uncompressed
  float cells (the 100 TB point of the tier);
* the probed scan prunes on ``_cell`` partitions (explain-pinned).
"""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from plumberapp_spark.llm.similarity import (  # noqa: E402
    SQ,
    _read_ivf_cells,
    build_ivf_index,
    dequantize_codes,
    ensure_compacted_ivf_index,
    ensure_deleted_ivf_index,
    ensure_ivf_index,
    ivf_topk_indexed,
    quantize_codes,
    sq_compression_stats,
)
from plumberapp_spark.session import load_table  # noqa: E402
from tests.conftest import SF_DIR, ivf_codec  # noqa: E402


def _dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def test_quantize_rule_matches_documented_formula():
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(100, 16))
    vecs[:, 3] = 0.0  # a dead dimension exercises the s == 0 guard
    scales = np.abs(vecs).max(axis=0)
    codes = quantize_codes(vecs, scales)
    assert codes.dtype == np.int8
    assert codes[:, 3].tolist() == [0] * 100
    assert int(codes.max()) <= 127 and int(codes.min()) >= -127
    # the exact documented expression, element by element
    for i in (0, 57):
        for d in (0, 3, 15):
            s = scales[d]
            want = 0.0 if s == 0 else np.floor(vecs[i, d] / s * 127 + 0.5)
            assert codes[i, d] == want
    deq = dequantize_codes(codes, scales)
    assert np.all(deq[:, 3] == 0.0)
    assert np.abs(deq - vecs).max() <= (scales.max() / 127) * 0.5 + 1e-12


def test_sq_search_with_full_rerank_equals_uncompressed(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    sq_path = ensure_ivf_index(spark, SF_DIR, "embeddings", n_centroids=16, codec=SQ)
    fp_path = ensure_ivf_index(spark, SF_DIR, "embeddings", n_centroids=16)
    # rerank >= the largest cell -> the shortlist is the whole candidate
    # set, so both stages collapse to exact scoring over the same
    # probed candidates: bit-identical to the uncompressed index.
    got = sorted(
        tuple(r)
        for r in ivf_topk_indexed(
            spark, sq_path, queries, k=5, nprobe=2, corpus=emb, rerank=10_000
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in ivf_topk_indexed(spark, fp_path, queries, k=5, nprobe=2).collect()
    )
    assert got == want and len(got) > 0


def test_sq_search_production_rerank_high_recall(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    sq_path = ensure_ivf_index(spark, SF_DIR, "embeddings", n_centroids=16, codec=SQ)
    fp_path = ensure_ivf_index(spark, SF_DIR, "embeddings", n_centroids=16)
    got = ivf_topk_indexed(
        spark, sq_path, queries, k=5, nprobe=2, corpus=emb, rerank=20
    ).collect()
    want = ivf_topk_indexed(spark, fp_path, queries, k=5, nprobe=2).collect()
    got_pairs = {(r[0], r[1]) for r in got}
    want_pairs = {(r[0], r[1]) for r in want}
    # served scores are EXACT by construction; the only possible loss is
    # shortlist recall, which at rerank=4k must stay high
    recall = len(got_pairs & want_pairs) / len(want_pairs)
    assert recall >= 0.9
    exact = {(r[0], r[1]): r[2] for r in want}
    for r in got:
        if (r[0], r[1]) in exact:
            assert r[2] == exact[(r[0], r[1])]


def test_code_cells_smaller_than_float_cells(spark, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    sq_path = ensure_ivf_index(spark, SF_DIR, "embeddings", n_centroids=16, codec=SQ)
    fp_path = ensure_ivf_index(spark, SF_DIR, "embeddings", n_centroids=16)
    sq_bytes = _dir_bytes(Path(sq_path) / "cells_sq")
    fp_bytes = _dir_bytes(Path(fp_path) / "cells")
    # float32 cells vs int8 codes: at 500 rows spread over 16 cell
    # directories parquet framing eats much of the 4x data-page win, so
    # pin a 2x floor here (the data-page ratio itself approaches 4x as
    # row groups grow — the 100 TB regime)
    assert sq_bytes * 2 < fp_bytes, (sq_bytes, fp_bytes)
    # and the schema on disk really is one byte per dimension
    schema = spark.read.parquet(f"{sq_path}/cells_sq").schema
    assert schema["_code"].dataType.simpleString() == "array<tinyint>"


def test_sq_probe_scan_prunes_cell_partitions(spark):
    check_probe_scan_prunes_cell_partitions(spark, "sq")


def check_probe_scan_prunes_cell_partitions(spark, codec):
    """Shared by the SQ and PQ twins: a coded probe's scan carries the
    ``_cell`` partition filter, so probing 1 cell per query over a
    handful of queries never lists every cell directory."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = ensure_ivf_index(
        spark, SF_DIR, "embeddings", n_centroids=16, codec=ivf_codec(codec)
    )
    df = ivf_topk_indexed(
        spark,
        path,
        emb.filter(F.col("vec_id") % 250 == 0),
        k=3,
        nprobe=1,
        corpus=emb,
        rerank=10,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "_cell" in plan  # partition filter reached the scan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m is not None and "_cell" in m.group(1), plan[:2000]


def test_compression_stats_card_shape(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    row = sq_compression_stats(emb).collect()[0]
    assert row["n_vecs"] == emb.count()
    assert row["dim"] == 64
    assert row["fp32_bytes"] == row["n_vecs"] * 64 * 4
    assert row["code_bytes"] == row["n_vecs"] * 64
    assert row["compression_x"] == 4.0
    # the quantization step bound: max error <= max scale / 254
    assert 0 < row["max_abs_err"] <= row["scale_max"] / 254 + 1e-9
    assert 0 < row["mse"] < row["max_abs_err"] ** 2
    assert 0 < row["scale_min"] <= row["scale_max"]


def test_sq_rebuild_on_source_change(spark, tmp_path):
    # the sidecar contract: a fresh source mtime rebuilds
    import os
    import shutil

    src = tmp_path / "sfX"
    src.mkdir()
    for t in ("embeddings",):
        shutil.copy(f"{SF_DIR}/{t}.parquet", src / f"{t}.parquet")
    p1 = ensure_ivf_index(spark, str(src), "embeddings", n_centroids=4, codec=SQ)
    m1 = os.path.getmtime(os.path.join(p1, "cells_sq", "_SUCCESS"))
    p2 = ensure_ivf_index(spark, str(src), "embeddings", n_centroids=4, codec=SQ)
    m2 = os.path.getmtime(os.path.join(p2, "cells_sq", "_SUCCESS"))
    assert p1 == p2 and m1 == m2  # warm: no rebuild
    os.utime(src / "embeddings.parquet")
    ensure_ivf_index(spark, str(src), "embeddings", n_centroids=4, codec=SQ)
    m3 = os.path.getmtime(os.path.join(p1, "cells_sq", "_SUCCESS"))
    assert m3 >= m1  # stale source: rebuilt


def test_sq_query_contract_cap(spark, monkeypatch):
    from plumberapp_spark import session

    emb = load_table(spark, SF_DIR, "embeddings")
    path = ensure_ivf_index(spark, SF_DIR, "embeddings", n_centroids=4, codec=SQ)
    monkeypatch.setattr(session, "MAX_COLLECT_ROWS", 10)
    with pytest.raises(ValueError, match="broadcastable"):
        ivf_topk_indexed(spark, path, emb, k=3, corpus=emb)


def test_sq_lifecycle_delete_and_compact_parity(spark):
    check_lifecycle_delete_and_compact_parity(spark, "sq")


def check_lifecycle_delete_and_compact_parity(spark, codec):
    """Shared by the SQ and PQ twins: serving the segmented fixture
    (base + delta - tombstones) and serving its compaction must be
    bit-identical — and both must match the oracle semantics (covered
    by test_queries_oracle for q127/q128 and q133/q134; here we pin
    segmented == compacted directly)."""
    import pathlib

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    c = ivf_codec(codec)
    seg = ensure_deleted_ivf_index(spark, SF_DIR, "embeddings", n_centroids=16, codec=c)
    cmp_ = ensure_compacted_ivf_index(
        spark, SF_DIR, "embeddings", n_centroids=16, codec=c
    )

    def serve(path):
        return sorted(
            tuple(r)
            for r in ivf_topk_indexed(
                spark, path, queries, k=5, nprobe=2, corpus=emb, rerank=20
            ).collect()
        )

    a, b = serve(seg), serve(cmp_)
    assert a == b and len(a) > 0
    # no deleted id is ever served
    deleted = {r[0] for r in emb.filter("vec_id % 7 = 3").select("vec_id").collect()}
    assert not deleted & {r[1] for r in a}
    # compaction physically dropped the tombstoned codes
    live = spark.read.parquet(f"{cmp_}/{c.cells}")
    assert live.filter(F.col("vec_id") % 7 == 3).count() == 0
    assert not [p for p in pathlib.Path(cmp_).iterdir() if p.name.startswith("tomb_")]


def test_sq_append_saturates_outside_frozen_scales(spark, tmp_path):
    """A delta vector outside the frozen scale range must quantize to
    ±127 (the documented saturation/drift rule), not overflow int8."""
    import pandas as pd

    from plumberapp_spark.llm.similarity import append_to_ivf_index

    base = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2, 3],
                "embedding": [[0.5, -0.5], [0.25, 0.1], [-0.4, 0.3], [0.1, -0.2]],
            }
        )
    )
    path = str(tmp_path / "sq")
    build_ivf_index(base, path, n_centroids=2, codec=SQ)
    delta = spark.createDataFrame(
        pd.DataFrame({"vec_id": [10], "embedding": [[5.0, -5.0]]})
    )
    append_to_ivf_index(delta, path)
    row = (
        _read_ivf_cells(spark, path)
        .filter(F.col("vec_id") == 10)
        .select("_code")
        .collect()[0]
    )
    assert list(row[0]) == [127, -127]


def test_sq_append_idempotent_by_name(spark, tmp_path):
    check_append_idempotent_by_name(spark, tmp_path, SQ)


def check_append_idempotent_by_name(spark, tmp_path, codec):
    """Shared by the SQ and PQ twins: a replayed epoch-named append is
    a no-op on a coded index too."""
    import pandas as pd

    from plumberapp_spark.llm.similarity import append_to_ivf_index

    base = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [0, 1, 2, 3],
                "embedding": [
                    [1.0, 0.0, 0.0, 0.5],
                    [0.0, 1.0, 0.5, 0.0],
                    [0.5, 0.0, 1.0, 0.0],
                    [0.0, 0.5, 0.0, 1.0],
                ],
            }
        )
    )
    path = str(tmp_path / "coded")
    build_ivf_index(base, path, n_centroids=2, codec=codec)
    delta = spark.createDataFrame(
        pd.DataFrame({"vec_id": [9], "embedding": [[0.3, 0.3, 0.3, 0.3]]})
    )
    append_to_ivf_index(delta, path, name="delta_e01", skip_if_complete=True)
    append_to_ivf_index(delta, path, name="delta_e01", skip_if_complete=True)
    assert _read_ivf_cells(spark, path).filter(F.col("vec_id") == 9).count() == 1


def test_sq_filtered_search_pre_k(spark):
    """id_filter restricts candidates BEFORE the shortlist cut: every
    served neighbor satisfies the predicate and queries still get up to
    k filtered hits."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = ensure_ivf_index(spark, SF_DIR, "embeddings", n_centroids=16, codec=SQ)
    allowed = emb.filter(F.col("label") % 4 == 0).select("vec_id")
    got = ivf_topk_indexed(
        spark,
        path,
        emb.filter(F.col("vec_id") % 50 == 0),
        k=5,
        nprobe=2,
        corpus=emb,
        rerank=20,
        id_filter=allowed,
    ).collect()
    ok = {r[0] for r in allowed.collect()}
    assert got and all(r[1] in ok for r in got)
