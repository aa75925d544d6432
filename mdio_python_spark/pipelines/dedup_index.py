"""Persisted dedup index: the steady-state half of incremental ingestion.

``incremental_dedup`` cleans a batch against an existing corpus; at
production scale the corpus side must come from a PRECOMPUTED index, not
a rescan. This module materializes that index as three parquet tables —
exact text hashes, shingle hashes, MinHash signatures — and reloads them
for per-batch cleaning. After a batch is accepted, ``extend`` appends
the kept docs' rows so the next batch sees them; parquet append is the
mergeless, conflict-free growth path (one writer per ingest cycle).

Index layout under ``index_dir``:
  text_hashes.parquet   (text_hash string)
  shingles.parquet      (doc_id long, sh long)
  signatures.parquet    (doc_id long, mh_0..mh_{K-1} long)
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mdio_python_spark.operators.dedup import (
    incremental_dedup,
    minhash_signatures,
    shingle_hashes,
)
from mdio_python_spark.sources.tables import read_parquet


def _paths(index_dir: str) -> dict[str, str]:
    return {
        "text_hashes": os.path.join(index_dir, "text_hashes.parquet"),
        "shingles": os.path.join(index_dir, "shingles.parquet"),
        "signatures": os.path.join(index_dir, "signatures.parquet"),
    }


def _index_parts(
    docs: DataFrame, n: int, num_hashes: int, text_col: str, id_col: str
) -> dict[str, DataFrame]:
    sh = shingle_hashes(docs, n, text_col, id_col)
    return {
        "text_hashes": docs.select(
            F.md5(F.col(text_col)).alias("text_hash")
        ).distinct(),
        "shingles": sh,
        "signatures": minhash_signatures(sh, num_hashes, id_col),
    }


def build_dedup_index(
    docs: DataFrame,
    index_dir: str,
    n: int = 3,
    num_hashes: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Materialize the corpus-side index. One corpus scan: the shingle
    subtree feeds both the shingle table and the signature aggregate."""
    parts = _index_parts(docs, n, num_hashes, text_col, id_col)
    for name, df in parts.items():
        df.write.mode("overwrite").parquet(_paths(index_dir)[name])
    with open(os.path.join(index_dir, "index_meta.json"), "w") as f:
        json.dump({"n": n, "num_hashes": num_hashes}, f)


def extend_dedup_index(
    kept_docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Append an accepted batch's rows so the next batch dedups against
    them. Parquet append — no rewrite of the existing index."""
    meta = json.load(open(os.path.join(index_dir, "index_meta.json")))
    parts = _index_parts(
        kept_docs, meta["n"], meta["num_hashes"], text_col, id_col
    )
    for name, df in parts.items():
        df.write.mode("append").parquet(_paths(index_dir)[name])


def dedup_against_index(
    spark: SparkSession,
    new_docs: DataFrame,
    index_dir: str,
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Clean a batch against the persisted index — the corpus is scanned
    zero times; per-batch cost is shingling the delta plus one capped
    bucket join against the (pushdown-pruned) index tables."""
    meta = json.load(open(os.path.join(index_dir, "index_meta.json")))
    p = _paths(index_dir)
    return incremental_dedup(
        new_docs,
        None,
        n=meta["n"],
        num_hashes=meta["num_hashes"],
        jaccard_threshold=jaccard_threshold,
        text_col=text_col,
        id_col=id_col,
        existing_hashes=read_parquet(spark, p["text_hashes"]),
        existing_shingles=read_parquet(spark, p["shingles"]),
        existing_signatures=read_parquet(spark, p["signatures"]),
    )
