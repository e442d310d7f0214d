"""Run a scripted lifecycle of every mutable relation — the segmented
lexical index, the IVF index and the segmented LM — into a fresh
directory, and print a manifest of what it left on disk: every directory
name, every non-part file (with JSON contents), and for each directory of
parquet part files its sorted rows and its parquet schema (with the Spark
schema Spark records in the footer). Part-file names are random and left
out.

Usage: python tools/lifecycle_manifest.py SF_DIR OUT_DIR > manifest.json

Run it from two checkouts into two directories and compare the
manifests: a change to how the relations are listed, named, written or
compacted that keeps the on-disk layout gives equal manifests.

The lifecycle, over the first 300 documents and every embedding of the
bed at ``SF_DIR`` (sf0.001 is enough):

* lexical: build, append, named append and its replay, delete,
  ``maybe_compact``, and the compaction of an all-tombstoned index;
* IVF: build, append, named append and its replay, delete,
  ``maybe_compact_ivf``, append + delete, ``rebuild_ivf_index``;
* bigram LM: build, append, named append and its replay, named delete
  and its replay, ``compact_bigram_lm``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from plumberapp_spark import get_spark  # noqa: E402


def lifecycle(spark, sf_dir: str, out: str) -> None:
    from plumberapp_spark.llm.segments import (
        append_segment,
        build_segmented_index,
        compact_segments,
        delete_docs,
        maybe_compact,
    )
    from plumberapp_spark.llm.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        delete_from_ivf_index,
        maybe_compact_ivf,
        rebuild_ivf_index,
    )
    from plumberapp_spark.llm.textqa import (
        append_bigram_segment,
        build_bigram_lm,
        compact_bigram_lm,
        delete_bigram_docs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter("doc_id < 300")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    lex = f"{out}/lex"
    build_segmented_index(docs.filter("doc_id < 200"), lex, n_buckets=8)
    append_segment(docs.filter("doc_id >= 200 AND doc_id < 250"), lex)
    for _ in range(2):
        append_segment(
            docs.filter("doc_id >= 250"), lex, name="seg_s000000007", skip_if_complete=True
        )
    delete_docs(spark, lex, docs.filter(F.col("doc_id") % 7 == 3).select("doc_id"))
    maybe_compact(spark, lex, max_segments=2)
    append_segment(  # a replay after the swap: absorbed, so a no-op
        docs.filter("doc_id >= 250"), lex, name="seg_s000000007", skip_if_complete=True
    )
    dead = f"{out}/lexdead"
    build_segmented_index(docs.filter("doc_id < 30"), dead, n_buckets=4)
    delete_docs(spark, dead, docs.filter("doc_id < 30").select("doc_id"))
    compact_segments(spark, dead, f"{out}/lexdead_c")

    ivf = f"{out}/ivf"
    build_ivf_index(emb.filter(F.col("vec_id") % 5 != 0), ivf, n_centroids=4)
    append_to_ivf_index(emb.filter(F.col("vec_id") % 5 == 0), ivf)
    for _ in range(2):
        append_to_ivf_index(
            emb.filter(F.col("vec_id") % 10 == 1), ivf,
            name="delta_e000000003", skip_if_complete=True,
        )
    delete_from_ivf_index(spark, ivf, emb.filter(F.col("vec_id") % 7 == 3).select("vec_id"))
    maybe_compact_ivf(spark, ivf, max_deltas=1)
    append_to_ivf_index(emb.filter(F.col("vec_id") % 10 == 2), ivf)
    delete_from_ivf_index(spark, ivf, emb.filter(F.col("vec_id") % 11 == 4).select("vec_id"))
    rebuild_ivf_index(spark, ivf)

    lm = f"{out}/lm"
    build_bigram_lm(docs.filter("doc_id < 200"), lm)
    append_bigram_segment(docs.filter("doc_id >= 200 AND doc_id < 250"), lm)
    for _ in range(2):
        append_bigram_segment(
            docs.filter("doc_id >= 250"), lm, name="seg_s000000007", skip_if_complete=True
        )
    for _ in range(2):
        delete_bigram_docs(
            docs.filter(F.col("doc_id") % 7 == 3), lm,
            name="seg_d000000001", skip_if_complete=True,
        )
    compact_bigram_lm(spark, lm, f"{out}/lm_c")


def _value(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, list):
        return [_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _value(x) for k, x in v.items()}
    return v


def manifest(out: str) -> dict:
    import pyarrow.parquet as pq

    dirs, files, relations = [], {}, {}
    for root, dnames, fnames in os.walk(out):
        dnames.sort()
        rel = os.path.relpath(root, out)
        dirs.append(rel)
        parts = sorted(f for f in fnames if f.startswith("part-") and f.endswith(".parquet"))
        for f in sorted(fnames):
            if f.startswith("part-") or f.endswith(".crc"):
                continue
            path = os.path.join(root, f)
            if f.endswith(".json"):
                with open(path) as fh:
                    files[os.path.join(rel, f)] = json.load(fh)
            else:
                files[os.path.join(rel, f)] = os.path.getsize(path)
        if parts:
            tables = [pq.read_table(os.path.join(root, f)) for f in parts]
            schema = tables[0].schema
            meta = {k.decode(): v.decode() for k, v in (schema.metadata or {}).items()}
            rows = sorted(
                (json.dumps(_value(r), sort_keys=True) for t in tables for r in t.to_pylist()),
            )
            relations[rel] = {
                "schema": schema.remove_metadata().to_string(),
                "spark_schema": meta.get("org.apache.spark.sql.parquet.row.metadata"),
                "rows": rows,
            }
    return {"dirs": dirs, "files": files, "relations": relations}


def main() -> None:
    sf_dir, out = sys.argv[1], os.path.abspath(sys.argv[2])
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    spark = get_spark("lifecycle_manifest")
    lifecycle(spark, sf_dir, out)
    json.dump(manifest(out), sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main()
