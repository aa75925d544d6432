"""Model-training queries: the FIT leg of fit-once / serve-many ANN.

The serving queries (`embedding_ivf_fitted` / `embedding_pq_fitted` /
`embedding_ivfpq_adc` in ``plans/llm_queries.py``) read the committed
canonical artifacts; these queries time the training itself — sampled
Lloyd k-means over the queried SF's embeddings — and persist the result
as a fresh artifact under ``/tmp`` (never overwriting the canonical
committed model a deployment would version deliberately). Their output
is the long-format model table, exactly what the artifact stores, so the
artifact contents themselves are exact-gated by the local tests.

Registered in a module imported LAST (`registry._ensure_loaded`) so the
declared-query order of everything before round 6 is unchanged.

The iterative fit is not SQL-expressible (Lloyd fixpoint), hence
``local:`` exact gates rather than DuckDB oracles — the shared policy
for iterative algorithms (see `QuerySpec.oracle` semantics).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from mdio_python_spark.plans.registry import register
from mdio_python_spark.sources.tables import load_table


def _tmp_artifact(sf_dir: str, fname: str) -> Path:
    base = Path(sf_dir).name or "base"
    return Path("/tmp/mdio_models") / base / fname


@register(
    "ivf_model_fit",
    "local:tests/test_model_store.py::test_ivf_fit_matches_inline_fit",
    eager=True,
)
def q_ivf_model_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the canonical-hyperparameter IVF model on THIS SF's
    embeddings (sampled cosine Lloyd — `operators/kmeans.py`), persist
    the artifact, and return the long-format centroid table. ``eager``:
    construction runs the distributed fit, so the bench clock starts
    before the builder (the round-5 honesty rule) — this is the
    separately-timed fit leg VERDICT r5 item 1 asks for."""
    from mdio_python_spark.operators.model_store import (
        IVF_CENTROIDS_PATH,
        centroids_to_rows,
        fit_and_save_ivf,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = _tmp_artifact(sf_dir, IVF_CENTROIDS_PATH.name)
    cents = fit_and_save_ivf(emb, path)
    return spark.createDataFrame(
        centroids_to_rows(cents), "centroid_id long, dim long, value double"
    )


@register(
    "pq_model_fit",
    "local:tests/test_model_store.py::test_pq_fit_matches_inline_fit",
    eager=True,
)
def q_pq_model_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the canonical-hyperparameter PQ codebooks on THIS SF's
    embeddings (per-subspace squared-L2 Lloyd on a hash sample, Jegou et
    al. §III.A), persist the artifact, and return the long-format
    codebook table. The separately-timed fit leg of the PQ/IVF-PQ
    serving queries."""
    from mdio_python_spark.operators.model_store import (
        PQ_CODEBOOKS_PATH,
        codebooks_to_rows,
        fit_and_save_pq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = _tmp_artifact(sf_dir, PQ_CODEBOOKS_PATH.name)
    books, _sub = fit_and_save_pq(emb, path)
    return spark.createDataFrame(
        codebooks_to_rows(books), "subspace long, code long, dim long, value double"
    )
