"""Round-10 regression pins for the ADVICE-r9 fixes."""

import pyspark.sql.functions as F


def test_ivf_append_empty_delta_does_not_poison_index(spark, tmp_path):
    """ADVICE r9: an empty append used to write a dataless partitioned
    delta whose cells/_SUCCESS marked it complete; every subsequent
    _read_ivf_cells then died on parquet schema inference. The guard
    writes a schema-preserving plain parquet instead, so the index keeps
    serving."""
    from plumberapp_spark.llm import store
    from plumberapp_spark.llm.similarity import (
        _read_ivf_cells,
        append_to_ivf_index,
        build_ivf_index,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_centroids=8)
    n0 = _read_ivf_cells(spark, path).count()

    append_to_ivf_index(emb.filter(F.lit(False)), path, name="delta_empty")
    # complete (marker landed) ...
    assert len(store.members(path, "delta", "cells")) == 1
    assert _read_ivf_cells(spark, path).count() == n0  # ... but contributes 0

    # and a later real append over the empty one still unions cleanly
    append_to_ivf_index(emb.limit(0), path)  # second empty, unnamed path
    append_to_ivf_index(emb.filter(F.col("vec_id") < 0), path)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    rows = ivf_topk_indexed(spark, path, q, k=3, nprobe=2).collect()
    assert rows, "index must keep serving after empty deltas"
