"""LLM-data-pipeline declared queries: dedup, similarity search, text
analysis, multimodal plumbing — the beyond-reference surface from
BASELINE.json's north star, each with a DuckDB oracle.

Oracle notes:
- all hashing via the shared md5-based 60-bit hash (functions.scalars.hash64)
- DuckDB ``0.0`` literals are DECIMAL — oracles CAST to DOUBLE explicitly
- DuckDB ``regexp_replace`` needs the 'g' flag to match Spark's replace-all
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mdio_python_spark.functions.scalars import (
    hash64,
    sql_hash64,
    sql_xxhash64_ascii16,
)
from mdio_python_spark.operators import curation, dedup, similarity, text
from mdio_python_spark.operators.caching import eager, own, persist
from mdio_python_spark.operators.text_arrow import shingle_sets_arrow
from mdio_python_spark.plans.registry import register
from mdio_python_spark.sources.tables import load_table


# shared oracle CTE fragments ------------------------------------------------

_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"

_SHINGLES_CTE = f"""
  shingled AS (
    SELECT DISTINCT doc_id,
           unnest(CASE WHEN len({_TOKS}) >= 3
                  THEN list_transform(
                         generate_series(1, len({_TOKS}) - 2),
                         i -> array_to_string(list_slice({_TOKS}, i, i + 2), ' '))
                  ELSE [] END) AS shingle
    FROM documents
  )
"""

from mdio_python_spark.operators.dedup import mix_constant

_MH = ", ".join(
    "MIN(xor({h}, {c})) AS mh_{k}".format(
        h=sql_hash64("shingle"), c=mix_constant(k), k=k
    )
    for k in range(8)
)

_SIGNATURES_CTE = f"""
  signatures AS (
    SELECT doc_id, {_MH}
    FROM shingled GROUP BY doc_id
  )
"""

_BANDS_CTE = f"""
  bands AS (
    SELECT doc_id, 0 AS band_id,
           {sql_hash64("concat(CAST(mh_0 AS VARCHAR), '_', CAST(mh_1 AS VARCHAR))")} AS band_hash
    FROM signatures
    UNION ALL
    SELECT doc_id, 1,
           {sql_hash64("concat(CAST(mh_2 AS VARCHAR), '_', CAST(mh_3 AS VARCHAR))")}
    FROM signatures
    UNION ALL
    SELECT doc_id, 2,
           {sql_hash64("concat(CAST(mh_4 AS VARCHAR), '_', CAST(mh_5 AS VARCHAR))")}
    FROM signatures
    UNION ALL
    SELECT doc_id, 3,
           {sql_hash64("concat(CAST(mh_6 AS VARCHAR), '_', CAST(mh_7 AS VARCHAR))")}
    FROM signatures
  ),
  banded_capped AS (
    SELECT doc_id, band_id, band_hash,
           ROW_NUMBER() OVER (PARTITION BY band_id, band_hash
                              ORDER BY doc_id) AS rn
    FROM bands
  ),
  candidate_pairs AS (
    -- rn <= cap mirrors dedup.bucket_pairs' deterministic hot-bucket
    -- guard (first max_bucket_size SORTED ids per bucket); without it a
    -- degenerate >cap bucket makes the oracle emit pairs Spark's capped
    -- generator never sees
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM banded_capped l JOIN banded_capped r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
     AND l.rn <= {dedup.DEFAULT_MAX_BUCKET_SIZE}
     AND r.rn <= {dedup.DEFAULT_MAX_BUCKET_SIZE}
  )
"""

# exact Jaccard for candidate pairs via the shingle-set join — shared by
# every oracle that verifies LSH candidates (mirror of dedup.jaccard_pairs);
# parameterized on the pair source so estimate-gated pipelines
# (near_dup_jaccard) reuse the identical verify fragment
def _pair_jaccard_ctes(src: str = "candidate_pairs") -> str:
    return f"""
  sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingled GROUP BY doc_id),
  inter AS (
    SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
    FROM {src} p
    JOIN shingled a ON a.doc_id = p.doc_a
    JOIN shingled b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
    GROUP BY p.doc_a, p.doc_b
  ),
  pair_jaccard AS (
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS DOUBLE)
             / CAST(sa.n_shingles + sb.n_shingles - i.n_common AS DOUBLE)
             AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
  )
"""


_PAIR_JACCARD_CTES = _pair_jaccard_ctes()

# MinHash-agreement estimate gate (mirror of dedup.minhash_agreement_filter
# at min_agree=3): candidate pairs keep only if >=3 of the 8 signature
# components agree — deterministic in both engines (same hashes), so the
# gate is part of the declared query's semantics, not an approximation gap
_EST_PAIRS_CTE = f"""
  est_pairs AS (
    SELECT p.doc_a, p.doc_b
    FROM candidate_pairs p
    JOIN signatures sa ON sa.doc_id = p.doc_a
    JOIN signatures sb ON sb.doc_id = p.doc_b
    WHERE {" + ".join(
        f"(CASE WHEN sa.mh_{k} = sb.mh_{k} THEN 1 ELSE 0 END)" for k in range(8)
    )} >= 3
  )
"""

# min-label connected components over candidate_pairs (recursive CTE) —
# shared by every oracle that clusters LSH candidates (mirror of
# dedup.connected_components' fixpoint)
_CC_CTES = """
  edges AS (
    SELECT doc_a AS u, doc_b AS v FROM candidate_pairs
    UNION
    SELECT doc_b, doc_a FROM candidate_pairs
  ),
  cc AS (
    SELECT u AS id, u AS label FROM edges
    UNION
    SELECT e.v AS id, cc.label
    FROM cc JOIN edges e ON e.u = cc.id
    WHERE cc.label < e.v
  ),
  clusters AS (SELECT id AS doc_id, MIN(label) AS cluster_id FROM cc GROUP BY id)
"""


def _word_shingle_sets(docs: DataFrame) -> DataFrame:
    """The persisted word-3-shingle SET-ARRAY stage shared by the LSH
    verify family (round 10, VERDICT r9 item 1 — the char_shingle
    one-corpus-aggregation reshape applied to the word-shingle queries
    that owned the sf0.1 top-5).

    ONE ``collect_set`` aggregation over the hashed shingle scan
    (``dedup.shingle_sets``) replaces the round-9-and-earlier shape that
    persisted the EXPLODED shingle rows and re-aggregated them up to
    three times per query (MinHash ObjectHashAggregate + one
    ``collect_set`` per verify join side): signatures derive from the
    arrays bit-identically (``dedup.minhash_signatures_from_sets``) and
    both verify sides join the same 1-row-per-doc table
    (``jaccard_pairs_arrays(sets=)``). The cache holds one sorted long
    array per doc (~the same bytes as the distinct hashes, minus the
    per-row doc_id repetition). Eagerly materialized so dependent plans
    see measured cache stats (round-7 rule). Callers ``caching.own`` the
    stage under their query scope.

    Round 10b: the stage itself now builds through the Arrow kernel
    (``text_arrow.shingle_sets_arrow`` — bit-identical (id, _set) rows,
    pinned in tests/test_text_arrow.py): the explode + per-shingle JVM
    md5 + collect_set exchange collapse into one shuffle-free
    vectorized-MD5 map pass (word sets stage 0.72 -> 0.56 s sf0.1
    isolated; the JVM md5+conv per shingle occurrence was the floor).
    """
    return eager(persist(shingle_sets_arrow(docs, n=3, unit="word", minhashes=8)))


# ---------------------------------------------------------------------------
# Dedup: exact
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_groups",
    """
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dupes
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one hash-groupBy (map-side combinable)."""
    return dedup.exact_groups(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_exact_kept",
    """
    SELECT doc_id, n_chars FROM documents
    WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
    """,
)
def q_dedup_exact_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs).select("doc_id", "n_chars")


# ---------------------------------------------------------------------------
# Dedup: MinHash + LSH + Jaccard verify
# ---------------------------------------------------------------------------


@register(
    "minhash_signatures",
    f"WITH {_SHINGLES_CTE}, {_SIGNATURES_CTE} SELECT * FROM signatures",
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 hashes over word 3-shingles): the shuffle
    carries 8 longs per doc regardless of document length; the md5 base
    hash is a scan-stage projection, the aggregate only XOR-mins longs."""
    return dedup.minhash_signatures_from_sets(
        shingle_sets_arrow(
            load_table(spark, sf_dir, "documents"),
            n=3,
            unit="word",
            minhashes=8,
            emit_sets=False,
        ),
        num_hashes=8,
    )


@register(
    "minhash_lsh_pairs",
    f"WITH {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE} "
    "SELECT doc_a, doc_b FROM candidate_pairs",
)
def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding (4 bands x 2 rows): near-dup candidates via bucket
    self-join — the scale path that avoids the quadratic all-pairs scan."""
    sig = dedup.minhash_signatures_from_sets(
        shingle_sets_arrow(
            load_table(spark, sf_dir, "documents"),
            n=3,
            unit="word",
            minhashes=8,
            emit_sets=False,
        ),
        num_hashes=8,
    )
    return dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)


@register(
    "near_dup_jaccard",
    f"""
    WITH {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE}, {_EST_PAIRS_CTE},
    {_pair_jaccard_ctes("est_pairs")}
    SELECT doc_a, doc_b, jaccard FROM pair_jaccard WHERE jaccard >= 0.5
    """,
    eager=True,
)
def q_near_dup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> LSH candidates ->
    MinHash-estimate gate -> exact Jaccard verify at 0.5 — the canonical
    training-data dedup DAG in its deployed shape (estimate-gate, then
    verify survivors).

    The exact verify dominated the 100x stress point (VERDICT r5 item 5),
    so two prefilters run before the shingle-intersection join: the
    signature-agreement gate (>= 3 of 8 components; drops incidental band
    collisions — measured 24% of candidates at sf0.1, zero true pairs —
    and is ORACLE-MIRRORED, so it is deterministic declared semantics,
    with the recall trade quantified in
    dedup.minhash_agreement_filter's docstring) and the provable
    size-ratio bound (J <= min/max sizes — output-identical by theorem
    given the final jaccard >= 0.5 filter, hence NOT in the oracle).

    Scale shape (round 10 — the char_shingle set-array reshape,
    VERDICT r9 item 1): ONE persisted collect_set aggregation of the
    hashed shingle scan (``_word_shingle_sets``) feeds the signatures
    (bit-identical mins over the XORed arrays), the size-ratio gate, and
    BOTH verify sides via ``array_intersect`` scoring in codegen —
    replacing the round-9 shape that re-aggregated a persisted exploded
    shingle fork three times (the measured wall of this family at
    stress scale)."""
    docs = load_table(spark, sf_dir, "documents")
    sets = _word_shingle_sets(docs)
    sig = dedup.minhash_signatures_from_sets(sets, num_hashes=8)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    gated = dedup.minhash_agreement_filter(pairs, sig, num_hashes=8, min_agree=3)
    out = dedup.jaccard_pairs_arrays(
        gated, None, min_jaccard=0.5, sets=sets
    ).where(F.col("jaccard") >= 0.5)
    return own(out, "near_dup_jaccard", sets)


@register(
    "dedup_cluster_assignments",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE}, {_CC_CTES}
    SELECT doc_id, cluster_id FROM clusters
    """,
    eager=True,
)
def q_dedup_cluster_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: LSH candidate pairs -> connected components ->
    (doc_id, cluster_id = min id in component). The step pairwise dedup
    misses: A~B and B~C puts A,B,C in ONE cluster even when A~C was never
    a candidate pair, so exactly one representative per transitive group
    survives.

    Spark side is alternating large-star/small-star rounds (O(log n),
    join-based — no adjacency arrays); the oracle is a recursive-CTE
    min-label propagation, pruned to labels below the receiving node.
    """
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_from_sets(
        shingle_sets_arrow(docs, n=3, unit="word", minhashes=8, emit_sets=False),
        num_hashes=8,
    )
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    return dedup.connected_components(pairs, assume_distinct=True)


def _shingles_from(src: str, alias: str) -> str:
    """Shingle CTE over an arbitrary source relation (same 3-gram set
    semantics as `_SHINGLES_CTE`)."""
    return f"""{alias} AS (
    SELECT DISTINCT doc_id,
           unnest(CASE WHEN len({_TOKS}) >= 3
                  THEN list_transform(
                         generate_series(1, len({_TOKS}) - 2),
                         i -> array_to_string(list_slice({_TOKS}, i, i + 2), ' '))
                  ELSE [] END) AS shingle
    FROM {src}
  )"""


def _bands_from(sig: str, alias: str) -> str:
    parts = []
    for band in range(4):
        h = sql_hash64(
            f"concat(CAST(mh_{2 * band} AS VARCHAR), '_', "
            f"CAST(mh_{2 * band + 1} AS VARCHAR))"
        )
        parts.append(
            f"SELECT doc_id, {band} AS band_id, {h} AS band_hash FROM {sig}"
        )
    return f"{alias} AS ({' UNION ALL '.join(parts)})"


@register(
    "incremental_dedup_kept",
    f"""
    WITH olddocs AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
    newdocs AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
    new1 AS (
      SELECT * FROM newdocs
      WHERE md5(text) NOT IN (SELECT md5(text) FROM olddocs)
    ),
    new2 AS (
      SELECT * FROM new1
      WHERE doc_id IN (SELECT MIN(doc_id) FROM new1 GROUP BY md5(text))
    ),
    {_shingles_from("olddocs", "sh_old")},
    {_shingles_from("new2", "sh_new")},
    sig_old AS (SELECT doc_id, {_MH} FROM sh_old shingled GROUP BY doc_id),
    sig_new AS (SELECT doc_id, {_MH} FROM sh_new shingled GROUP BY doc_id),
    {_bands_from("sig_old", "bands_old")},
    {_bands_from("sig_new", "bands_new")},
    allb AS (
      SELECT doc_id, 0 AS side, band_id, band_hash FROM bands_old
      UNION ALL
      SELECT doc_id, 1, band_id, band_hash FROM bands_new
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM allb l JOIN allb r
        ON l.band_id = r.band_id AND l.band_hash = r.band_hash
       AND r.side = 1 AND (l.side = 0 OR l.doc_id < r.doc_id)
    ),
    all_sh AS (
      SELECT * FROM sh_old UNION ALL SELECT * FROM sh_new
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM all_sh GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
      FROM cand p
      JOIN all_sh a ON a.doc_id = p.doc_a
      JOIN all_sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY p.doc_a, p.doc_b
    ),
    drops AS (
      SELECT DISTINCT i.doc_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
      WHERE CAST(i.n_common AS DOUBLE)
              / CAST(sa.n_shingles + sb.n_shingles - i.n_common AS DOUBLE) >= 0.5
    )
    SELECT doc_id, lang, source, n_chars FROM new2
    WHERE doc_id NOT IN (SELECT doc_b FROM drops)
    """,
    eager=True,
)
def q_incremental_dedup_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: the odd-id half of the corpus plays
    the NEW batch, the even-id half the EXISTING corpus — new docs
    surviving exact (vs corpus + within batch) AND near-dup (MinHash/LSH
    + Jaccard>=0.5 vs corpus + smaller-id batch peers). At scale the
    corpus side is a precomputed signature/shingle index
    (operators/dedup.py:incremental_dedup's existing_* params) and each
    batch costs shingling the delta plus one capped bucket join."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.incremental_dedup(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
    ).select("doc_id", "lang", "source", "n_chars")


def _simhash_cte(bits: int) -> str:
    return f"""
  tok AS (
    SELECT doc_id, unnest({_TOKS}) AS token FROM documents
  ),
  hashed AS (SELECT doc_id, {sql_hash64("token")} AS h FROM tok),
  votes AS (
    SELECT doc_id,
           {", ".join(f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}" for b in range(bits))}
    FROM hashed GROUP BY doc_id
  ),
  sim AS (
    SELECT doc_id,
           CAST({" + ".join(f"CASE WHEN v_{b} >= 0 THEN {2**b} ELSE 0 END" for b in range(bits))}
                AS BIGINT) AS simhash
    FROM votes
  )
"""


@register("simhash_16", f"WITH {_simhash_cte(16)} SELECT doc_id, simhash FROM sim")
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit) over the token multiset: per-bit votes in one
    groupBy."""
    return dedup.simhash(load_table(spark, sf_dir, "documents"), bits=16)


@register(
    "simhash_hamming_pairs",
    f"""
    WITH {_simhash_cte(60)},
    bands AS (
      SELECT doc_id, band_id, (simhash >> (15 * band_id)) & 32767 AS val
      FROM sim CROSS JOIN (VALUES (0), (1), (2), (3)) AS b(band_id)
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM bands l JOIN bands r
        ON l.band_id = r.band_id AND l.val = r.val AND l.doc_id < r.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
    FROM cand
    JOIN sim sa ON sa.doc_id = doc_a
    JOIN sim sb ON sb.doc_id = doc_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
    """,
)
def q_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (60-bit signature, hamming <= 3) via
    block-COMBINATION banding (Manku et al., WWW 2007): candidates key
    on every 3-of-6 block combination — 20 tables of 30-bit keys — so
    expected random collisions are ~20 n^2 / 2^30 instead of the plain
    4-band scheme's ~4 n^2 / 2^15. The scheme history IS the stress
    row's: r4 caught 8-bit bands at 85x on 10x data (n^2/2^8); 15-bit
    bands fixed 10x but the r5 100x point measured 288x (n^2/2^15 — a
    quadratic with a constant that 5M docs defeats); combination keys
    moved the knee past 250M docs with the OUTPUT bit-identical (same
    pigeonhole recall guarantee, same verify). The oracle is unchanged:
    any correct candidate scheme yields the same verified pair set."""
    sim = dedup.simhash(load_table(spark, sf_dir, "documents"), bits=60)
    return dedup.simhash_combo_pairs(sim, bits=60, blocks=6, max_hamming=3)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_quality_features",
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_computed,
           CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
             / CAST(length(text) AS DOUBLE) AS punct_ratio,
           CAST(len(list_filter({_TOKS},
                    t -> t IN ('the','a','and','of','to'))) AS DOUBLE)
             / CAST(len({_TOKS}) AS DOUBLE) AS stopword_ratio
    FROM documents
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/stopword features, all codegen'd
    column expressions — shuffle-free scan."""
    return text.quality_features(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "n_chars_computed",
        "n_tokens",
        "n_bpe_tokens",
        "punct_ratio",
        "stopword_ratio",
    )


def _lang_score_sql(langs_markers: dict[str, tuple[str, ...]]) -> dict[str, str]:
    return {
        lang: (
            f"CAST(len(list_filter({_TOKS}, t -> t IN "
            f"({', '.join(repr(m) for m in marks)}))) AS BIGINT)"
        )
        for lang, marks in langs_markers.items()
    }


_SCORES = _lang_score_sql(text.LANG_MARKERS)
_LANG_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
         {", ".join(f"{sql} AS s_{lang}" for lang, sql in sorted(_SCORES.items()))}
  FROM documents
)
SELECT doc_id, lang,
       CASE WHEN s_zh > GREATEST(s_de, s_en, s_es, s_fr) THEN 'zh'
            WHEN s_fr > GREATEST(s_de, s_en, s_es) THEN 'fr'
            WHEN s_es > GREATEST(s_de, s_en) THEN 'es'
            WHEN s_en > s_de THEN 'en'
            ELSE 'de' END AS pred_lang
FROM scored
"""


@register("lang_id_heuristic", _LANG_ORACLE)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID via stopword-marker argmax (fixed lexicographic
    tie-break); staged projections tokenize once per row."""
    docs = load_table(spark, sf_dir, "documents")
    return text.language_id(docs).select("doc_id", "lang", "pred_lang")


_NORMALIZED = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"


@register(
    "text_redaction",
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS BIGINT)
             AS n_urls,
           CAST(len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text,
                 '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(text, 'https?://[^\\s]+', '[URL]', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                   '[EMAIL]', 'g'),
                 '\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b', '[PHONE]', 'g'))
             AS redacted_hash
    FROM documents
    """,
)
def q_text_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: count + replace emails/URLs/phone-shaped spans
    with typed placeholders; output the redacted-text hash (the driver
    hash pins the full replacement semantics without shipping text)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.redact_pii(docs).select(
        "doc_id", "n_urls", "n_emails", "n_phones", "redacted_hash"
    )


@register(
    "doc_fingerprint",
    f"""
    SELECT doc_id,
           {sql_hash64(_NORMALIZED)} AS fingerprint,
           substr(md5(text), 1, 8) AS md5_prefix
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: 60-bit hash of normalized text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.fingerprint(F.col("text")).alias("fingerprint"),
        F.substring(F.md5(F.col("text")), 1, 8).alias("md5_prefix"),
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), (x, y) -> x + y)"
)

_COSINE_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 20
),
c AS (SELECT vec_id AS candidate_id, embedding AS c_vec FROM embeddings),
scored AS (
  SELECT query_id, candidate_id,
         {_DOT.format(a="q_vec", b="c_vec")}
           / (sqrt({_DOT.format(a="q_vec", b="q_vec")})
              * sqrt({_DOT.format(a="c_vec", b="c_vec")})) AS cosine
  FROM c CROSS JOIN q WHERE query_id <> candidate_id
)
SELECT query_id, candidate_id, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, candidate_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
"""


@register("embedding_topk_cosine", _COSINE_ORACLE, eager=True)
def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (correctness baseline for ANN): queries
    collected driver-side (bounded sample); the candidate scan runs the
    vectorized left-fold kernel (vector_arrow.cosine_topk_arrow —
    bit-identical doubles and tie order; round 10b: the 100k-row
    crossJoin of interpreted zip_with folds was the query's whole
    wall). eager=True because construction now collects the query
    sample (the round-5 rule: build-time distributed work must sit
    inside the timed window)."""
    from mdio_python_spark.operators.vector_arrow import cosine_topk_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk_arrow(emb.where(F.col("vec_id") < 20), emb, k=5)
    return out.withColumn("rank", F.col("rank").cast("int"))


def _bucket_sql_bits(bits: int) -> str:
    return (
        "CAST("
        + " + ".join(
            f"CASE WHEN {{v}}[{i + 1}] > 0 THEN {2**i} ELSE 0 END" for i in range(bits)
        )
        + " AS BIGINT)"
    )


_BUCKET_SQL = _bucket_sql_bits(6)

_BUCKETED_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec,
         {_BUCKET_SQL.format(v="embedding")} AS bucket
  FROM embeddings WHERE vec_id < 50
),
c AS (
  SELECT vec_id AS candidate_id, embedding AS c_vec,
         {_BUCKET_SQL.format(v="embedding")} AS bucket
  FROM embeddings
),
scored AS (
  SELECT query_id, candidate_id, c.bucket,
         {_DOT.format(a="q_vec", b="c_vec")}
           / (sqrt({_DOT.format(a="q_vec", b="q_vec")})
              * sqrt({_DOT.format(a="c_vec", b="c_vec")})) AS cosine
  FROM c JOIN q USING (bucket) WHERE query_id <> candidate_id
)
SELECT query_id, candidate_id, bucket, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, candidate_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 3
"""


@register("embedding_bucketed_ann", _BUCKETED_ORACLE)
def q_bucketed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/LSH-style bucketed ANN (scale path): sign-bucket equi-join prunes
    the cross product; bucket id is the natural partition key at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.bucketed_topk(
        emb.where(F.col("vec_id") < 50), emb, k=3, bits=6
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


def _band_bucket_sql(band: int, bits: int) -> str:
    return (
        "CAST("
        + " + ".join(
            f"CASE WHEN {{v}}[{band * bits + i + 1}] > 0 THEN {2**i} ELSE 0 END"
            for i in range(bits)
        )
        + " AS BIGINT)"
    )


def _multiband_cte(table_alias: str, id_alias: str, vec_alias: str, where: str) -> str:
    selects = [
        f"SELECT vec_id AS {id_alias}, embedding AS {vec_alias}, "
        f"{bd} AS band_id, {_band_bucket_sql(bd, 6).format(v='embedding')} AS bucket "
        f"FROM embeddings {where}"
        for bd in range(4)
    ]
    return " UNION ALL ".join(selects)


_MULTIBAND_ORACLE = f"""
WITH q AS ({_multiband_cte("q", "query_id", "q_vec", "WHERE vec_id < 50")}),
c AS ({_multiband_cte("c", "candidate_id", "c_vec", "")}),
matched AS (
  SELECT query_id, candidate_id, band_id,
         {_DOT.format(a="q_vec", b="c_vec")}
           / (sqrt({_DOT.format(a="q_vec", b="q_vec")})
              * sqrt({_DOT.format(a="c_vec", b="c_vec")})) AS cosine
  FROM c JOIN q USING (band_id, bucket) WHERE query_id <> candidate_id
),
pairs AS (
  SELECT query_id, candidate_id, MAX(cosine) AS cosine,
         CAST(COUNT(DISTINCT band_id) AS BIGINT) AS n_bands
  FROM matched GROUP BY query_id, candidate_id
)
SELECT query_id, candidate_id, cosine, n_bands, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, candidate_id) AS INT) AS rank
  FROM pairs
) WHERE rank <= 3
"""


_CURATION_ORACLE = f"""
WITH feats AS (
  SELECT doc_id, lang, text, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
),
quality AS (SELECT * FROM feats WHERE n_tokens >= 24),
exact_keep AS (
  SELECT * FROM quality
  WHERE doc_id IN (SELECT MIN(doc_id) FROM quality GROUP BY md5(text))
),
shingled AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len({_TOKS}) >= 3
                THEN list_transform(
                       generate_series(1, len({_TOKS}) - 2),
                       i -> array_to_string(list_slice({_TOKS}, i, i + 2), ' '))
                ELSE [] END) AS shingle
  FROM exact_keep
),
{_SIGNATURES_CTE},
{_BANDS_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingled GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
  FROM candidate_pairs p
  JOIN shingled a ON a.doc_id = p.doc_a
  JOIN shingled b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY p.doc_a, p.doc_b
),
drops AS (
  SELECT DISTINCT i.doc_b
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.doc_a
  JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE CAST(i.n_common AS DOUBLE)
          / CAST(sa.n_shingles + sb.n_shingles - i.n_common AS DOUBLE) >= 0.5
),
kept AS (
  SELECT * FROM exact_keep WHERE doc_id NOT IN (SELECT doc_b FROM drops)
),
f AS (SELECT lang, COUNT(*) AS n_docs FROM feats GROUP BY lang),
qx AS (SELECT lang, COUNT(*) AS n_quality FROM quality GROUP BY lang),
e AS (SELECT lang, COUNT(*) AS n_exact FROM exact_keep GROUP BY lang),
k AS (SELECT lang, COUNT(*) AS n_kept,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
      FROM kept GROUP BY lang)
SELECT f.lang, f.n_docs,
       CAST(COALESCE(qx.n_quality, 0) AS BIGINT) AS n_quality,
       CAST(COALESCE(e.n_exact, 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(k.tokens_kept, 0) AS BIGINT) AS tokens_kept
FROM f
LEFT JOIN qx USING (lang)
LEFT JOIN e USING (lang)
LEFT JOIN k USING (lang)
"""


@register("corpus_curation_funnel", _CURATION_ORACLE, eager=True)
def q_corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the composition every training-data
    pipeline actually runs, as ONE declared DAG: quality filter (token
    floor) -> exact dedup (min-id per md5) -> MinHash-LSH near-dedup
    (verified Jaccard >= 0.5, greedy drop-larger-id) -> per-language
    funnel counts + kept-token budget.

    Scale shape: each stage consumes the previous stage's (smaller)
    output; the near-dup stage reuses the one repartition(doc_id)
    exchange across signature/size/intersection branches exactly as
    ``near_dup_jaccard``; the funnel aggregates are per-lang partials
    joined on a handful of rows (broadcast). Nothing corpus-sized is
    collected or broadcast."""
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id", "lang", "text", text.token_count(F.col("text")).alias("n_tokens")
    )
    quality = feats.where(F.col("n_tokens") >= 24)
    # one doc_id exchange shared by every downstream consumer (shingle
    # pipeline, per-lang counts, kept anti-join) — measured 5.2 -> 3.8 s
    # at sf0.1 vs re-deriving the exact-dedup semi-join per branch
    exact_keep = dedup.exact_dedup(quality).repartition("doc_id")

    # The shingle stage feeds FOUR consumers (signatures->pairs, both
    # intersection sides, set sizes), and unlike near_dup_jaccard it
    # sits on the exact-dedup window subtree, so a recompute repeats
    # that whole stage per branch — identical-subtree exchange reuse is
    # not reliable under AQE here. Round 10: persist the per-doc SET
    # ARRAYS instead of the exploded rows; signatures and both verify
    # sides read the same 1-row-per-doc cache (_word_shingle_sets
    # rationale). Round 10b: the arrays build through the shuffle-free
    # Arrow kernel (shingle_sets_arrow — vectorized MD5, no explode,
    # no collect_set aggregation), bit-identical rows.
    sets = eager(
        persist(
            shingle_sets_arrow(
                exact_keep, n=3, unit="word", spread=False, minhashes=8
            )
        )
    )
    sig = dedup.minhash_signatures_from_sets(sets, num_hashes=8)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    verified = dedup.jaccard_pairs_arrays(
        pairs, None, min_jaccard=0.5, sets=sets
    ).where(F.col("jaccard") >= 0.5)
    drops = verified.select(F.col("doc_b").alias("doc_id")).distinct()
    kept = exact_keep.join(drops, "doc_id", "left_anti")

    f = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    qx = quality.groupBy("lang").agg(F.count(F.lit(1)).alias("n_quality"))
    e = exact_keep.groupBy("lang").agg(F.count(F.lit(1)).alias("n_exact"))
    k = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
    )
    out = (
        f.join(qx, "lang", "left").join(e, "lang", "left").join(k, "lang", "left")
    )
    zero = F.lit(0).cast("long")
    result = out.select(
        "lang",
        "n_docs",
        F.coalesce("n_quality", zero).alias("n_quality"),
        F.coalesce("n_exact", zero).alias("n_exact"),
        F.coalesce("n_kept", zero).alias("n_kept"),
        F.coalesce("tokens_kept", zero).alias("tokens_kept"),
    )
    return own(result, "llm.curation_funnel", sets)


_IVF_COS = (
    "{_d} / (sqrt({_aa}) * sqrt({_bb}))".format(
        _d=_DOT.format(a="{a}", b="{b}"),
        _aa=_DOT.format(a="{a}", b="{a}"),
        _bb=_DOT.format(a="{b}", b="{b}"),
    )
)

_IVF_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cent_vec FROM embeddings WHERE vec_id < 16
),
assign AS (
  SELECT vec_id, embedding, CAST(cid AS BIGINT) AS cell
  FROM embeddings, cent
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id
    ORDER BY {_IVF_COS.format(a="embedding", b="cent_vec")} DESC, cid) = 1
),
probes AS (
  SELECT q.vec_id AS query_id, q.embedding AS q_vec, CAST(cid AS BIGINT) AS cell
  FROM embeddings q, cent
  WHERE q.vec_id < 50
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY q.vec_id
    ORDER BY {_IVF_COS.format(a="q.embedding", b="cent_vec")} DESC, cid) <= 4
),
scored AS (
  SELECT query_id, a.vec_id AS candidate_id, a.cell,
         {_IVF_COS.format(a="q_vec", b="a.embedding")} AS cosine
  FROM assign a JOIN probes p ON a.cell = p.cell
  WHERE query_id <> a.vec_id
)
SELECT query_id, candidate_id, cell, cosine, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, candidate_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 3
"""


@register("embedding_ivf_ann", _IVF_ORACLE, eager=True)
def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN — data-dependent Voronoi cells (vs the data-oblivious
    sign-bucket/multiband LSH variants): 16 centroid cells, 4-probe, exact
    re-rank inside probed cells. Round 11: scoring runs in the
    ivf_local_topk Arrow kernel (eager=True — construction collects the
    query sample, round-5 rule); the cell id is the storage partition
    key at scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb.where(F.col("vec_id") < 50), emb, k=3, n_centroids=16, nprobe=4
    )


@register("embedding_multiband_ann", _MULTIBAND_ORACLE)
def q_multiband_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-band ANN — the recall fix over single-table sign-bucket LSH
    (round-1 honest risk): a candidate is probed if it agrees with the
    query in ANY of 4 disjoint 6-bit sign bands (OR-amplification,
    MinHash-LSH banding applied to hyperplane LSH). n_bands reports match
    confidence for free."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.multiband_topk(
        emb.where(F.col("vec_id") < 50), emb, k=3, bits=6, bands=4
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


_RECALL_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cent_vec FROM embeddings WHERE vec_id < 16
),
assign AS (
  SELECT vec_id, embedding, CAST(cid AS BIGINT) AS cell
  FROM embeddings, cent
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id
    ORDER BY {_IVF_COS.format(a="embedding", b="cent_vec")} DESC, cid) = 1
),
probes AS (
  SELECT q.vec_id AS query_id, q.embedding AS q_vec, CAST(cid AS BIGINT) AS cell
  FROM embeddings q, cent
  WHERE q.vec_id < 50
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY q.vec_id
    ORDER BY {_IVF_COS.format(a="q.embedding", b="cent_vec")} DESC, cid) <= 4
),
ivf_scored AS (
  SELECT query_id, a.vec_id AS candidate_id,
         {_IVF_COS.format(a="q_vec", b="a.embedding")} AS cosine
  FROM assign a JOIN probes p ON a.cell = p.cell
  WHERE query_id <> a.vec_id
),
ivf_topk AS (
  SELECT query_id, candidate_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, candidate_id) AS rnk
    FROM ivf_scored
  ) WHERE rnk <= 10
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 50
),
c AS (SELECT vec_id AS candidate_id, embedding AS c_vec FROM embeddings),
exact_scored AS (
  SELECT query_id, candidate_id,
         {_DOT.format(a="q_vec", b="c_vec")}
           / (sqrt({_DOT.format(a="q_vec", b="q_vec")})
              * sqrt({_DOT.format(a="c_vec", b="c_vec")})) AS cosine
  FROM c CROSS JOIN q WHERE query_id <> candidate_id
),
exact_topk AS (
  SELECT query_id, candidate_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, candidate_id) AS rnk
    FROM exact_scored
  ) WHERE rnk <= 10
)
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN i.candidate_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST(SUM(CASE WHEN i.candidate_id IS NOT NULL THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
FROM exact_topk e
LEFT JOIN ivf_topk i
  ON i.query_id = e.query_id AND i.candidate_id = e.candidate_id
GROUP BY e.query_id
"""


@register("ann_recall_at_k", _RECALL_ORACLE, eager=True)
def q_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF-flat ANN against the exact brute-force top-10
    per query point — the QC query that turns the exact baseline into the
    measuring stick it exists to be: a 100-TB ANN deployment is tuned by
    exactly this curve (nprobe/cells vs recall), run on a sampled query
    set against the full corpus.

    Scale shape: the expensive legs are the underlying searches, each
    already scale-handled (IVF candidate generation bucketed by probed
    cell; the exact leg is the deliberate brute-force audit baseline run
    on a SAMPLE of queries). The recall join itself touches only
    n_queries x k rows per side; the ANN side broadcasts. recall is one
    IEEE division of two exact integers — cross-engine deterministic."""
    from mdio_python_spark.operators.vector_arrow import cosine_topk_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 50)
    # round 10b: exact leg on the vectorized left-fold kernel
    # (bit-identical); eager=True — construction collects the query
    # sample (round-5 rule)
    exact = cosine_topk_arrow(queries, emb, k=10).select(
        "query_id", "candidate_id"
    )
    approx = (
        similarity.ivf_topk(queries, emb, k=10, n_centroids=16, nprobe=4)
        .select("query_id", "candidate_id")
        .withColumn("_hit", F.lit(1))
    )
    per_q = (
        exact.join(F.broadcast(approx), ["query_id", "candidate_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_hits"),
        )
    )
    return per_q.select(
        "query_id",
        "n_exact",
        "n_hits",
        (F.col("n_hits").cast("double") / F.col("n_exact").cast("double")).alias(
            "recall"
        ),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary columns with typed metadata)
# ---------------------------------------------------------------------------


@register(
    "binary_payload_stats",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS payload_sha256
    FROM documents
    """,
)
def q_binary_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing: treat payloads as binary + typed
    metadata; here byte length (UTF-8, exercises multi-byte zh docs) and a
    content digest — the schema pattern the image/audio operators build on
    (operators/multimodal.py)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.octet_length(payload).cast("long").alias("n_bytes"),
        F.sha2(payload, 256).alias("payload_sha256"),
    )


# ---------------------------------------------------------------------------
# Corpus accounting & embedding dedup
# ---------------------------------------------------------------------------


@register(
    "tokenized_docs",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token,
             generate_subscripts({_TOKS}, 1) - 1 AS pos
      FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
    vocab AS (
      SELECT token, token_id FROM (
        SELECT token, ROW_NUMBER() OVER (ORDER BY n DESC, token) - 1 AS token_id
        FROM freq
      ) WHERE token_id < 256
    ),
    mapped AS (
      SELECT t.doc_id, t.pos, COALESCE(v.token_id, 256) AS tid
      FROM tok t LEFT JOIN vocab v USING (token)
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN tid = 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           {sql_hash64("array_to_string(list(tid ORDER BY pos), ' ')")}
             AS ids_hash
    FROM mapped GROUP BY doc_id
    """,
)
def q_tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary tokenization — the pass that feeds sequence packing:
    top-256 frequency vocab (rank = id, built by a combinable corpus
    count + a window over the tiny vocab table), then posexplode ->
    BROADCAST vocab join -> order-preserving per-doc rebuild. The id
    sequence crosses as a 60-bit hash, never as an array
    (operators/text.py:build_vocab/tokenize_ids)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = text.build_vocab(docs, vocab_size=256)
    return text.tokenize_ids(docs, vocab, oov_id=256)


@register(
    "token_rarity_score",
    f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    dfreq AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token)
    SELECT t.doc_id,
           COUNT(*) AS n_distinct_tokens,
           CAST(SUM(f.df) AS BIGINT) AS sum_df,
           CAST(MIN(f.df) AS BIGINT) AS min_df,
           CAST(SUM(f.df) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_df
    FROM tok t JOIN dfreq f USING (token)
    GROUP BY t.doc_id
    """,
)
def q_token_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived commonness score: document frequency of each doc's
    distinct tokens rolled up per doc — low mean flags jargon/noise,
    min_df=1 flags corpus-unique junk. One (doc, token) distinct
    exchange + combinable df count + token-co-partitioned join back
    (operators/text.py:token_rarity)."""
    return text.token_rarity(load_table(spark, sf_dir, "documents"))


@register(
    "token_count_by_lang",
    f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(len({_TOKS}) AS BIGINT)) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]'))
                         AS BIGINT)) AS BIGINT) AS total_bpe_tokens
    FROM documents
    GROUP BY lang
    """,
)
def q_token_count_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per language — the budget query every
    training-data pipeline runs first. Map-side combinable: the shuffle
    carries one partial row per (partition, lang)."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text.token_count(t)).alias("total_tokens"),
        F.sum(text.bpe_ish_token_count(t)).alias("total_bpe_tokens"),
    )


_NEAR_DUP_PAIRS_CTE = f"""
  v AS (
    SELECT vec_id, embedding, {_bucket_sql_bits(8).format(v="embedding")} AS bucket
    FROM embeddings
  ),
  near_dup_pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_DOT.format(a="a.embedding", b="b.embedding")}
             / (sqrt({_DOT.format(a="a.embedding", b="a.embedding")})
                * sqrt({_DOT.format(a="b.embedding", b="b.embedding")})) AS cosine
    FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  )
"""


@register(
    "embedding_near_dup_drops",
    f"""
    WITH {_NEAR_DUP_PAIRS_CTE}
    SELECT vec_b AS drop_id, MIN(vec_a) AS keep_id, COUNT(*) AS n_near_dups
    FROM near_dup_pairs WHERE cosine >= 0.3
    GROUP BY vec_b
    """,
)
def q_embedding_near_dup_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: sign-bucket LSH candidates (pairs
    meet only within a bucket — no all-pairs scan; 8 bits keeps occupancy
    ~corpus/256), exact cosine verify at 0.3, then the greedy keep-min-id
    drop decision."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_drops(emb, threshold=0.3, bits=8)


_EST = " + ".join(
    f"CASE WHEN sa.mh_{k} = sb.mh_{k} THEN 1 ELSE 0 END" for k in range(8)
)


@register(
    "minhash_jaccard_estimate",
    f"""
    WITH {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE}
    SELECT p.doc_a, p.doc_b,
           CAST(({_EST}) AS DOUBLE) / 8.0 AS est_jaccard
    FROM candidate_pairs p
    JOIN signatures sa ON sa.doc_id = p.doc_a
    JOIN signatures sb ON sb.doc_id = p.doc_b
    """,
)
def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-side Jaccard estimate: fraction of agreeing minhashes per LSH
    candidate pair — the cheap filter real pipelines apply before (or
    instead of) the exact shingle-set verify. The signature rides along
    through the band buckets (as in simhash_band_pairs), so the estimate
    needs no join back against the signature table and the shingle
    subtree is computed exactly once."""
    sig = dedup.minhash_signatures_from_sets(
        shingle_sets_arrow(
            load_table(spark, sf_dir, "documents"),
            n=3,
            unit="word",
            minhashes=8,
            emit_sets=False,
        ),
        num_hashes=8,
    )
    mh = [F.col(f"mh_{k}") for k in range(8)]
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                hash64(
                    F.concat_ws(
                        "_", mh[2 * b].cast("string"), mh[2 * b + 1].cast("string")
                    )
                ).alias("band_hash"),
            )
            for b in range(4)
        ]
    )
    banded = sig.select(
        F.col("doc_id"),
        F.struct(*[c.alias(f"mh_{k}") for k, c in enumerate(mh)]).alias("s"),
        F.explode(bands).alias("b"),
    ).select("doc_id", "s", "b.band_id", "b.band_hash")
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("doc_id").alias("id"), F.col("s")))
            ).alias("items")
        )
        .where(F.size("items") >= 2)
    )

    def _agree(x, y):
        matches = [
            F.when(
                x.getField("s").getField(f"mh_{k}")
                == y.getField("s").getField(f"mh_{k}"),
                F.lit(1),
            ).otherwise(F.lit(0))
            for k in range(8)
        ]
        total = matches[0]
        for m in matches[1:]:
            total = total + m
        return total

    combos = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                lambda y: F.struct(
                    x.getField("id").alias("doc_a"),
                    y.getField("id").alias("doc_b"),
                    _agree(x, y).alias("n_agree"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(combos).alias("p"))
        .select(
            "p.doc_a",
            "p.doc_b",
            (F.col("p.n_agree").cast("double") / F.lit(8.0)).alias("est_jaccard"),
        )
        .distinct()
    )


_BIGRAMS_CTE = f"""
  bigrams AS (
    SELECT doc_id,
           unnest(CASE WHEN len({_TOKS}) >= 2
                  THEN list_transform(
                         generate_series(1, len({_TOKS}) - 1),
                         i -> array_to_string(list_slice({_TOKS}, i, i + 1), ' '))
                  ELSE [] END) AS bigram
    FROM documents
  )
"""


@register(
    "top_bigrams",
    f"""
    WITH {_BIGRAMS_CTE},
    counted AS (
      SELECT bigram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
      FROM bigrams GROUP BY bigram
    )
    SELECT bigram, n, n_docs FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, bigram) AS rk FROM counted
    ) WHERE rk <= 20
    """,
)
def q_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: bigram occurrence + document frequency, top 20.
    Map-side combinable count; the final top-k is TakeOrderedAndProject
    over the aggregated table — per-task local top-20, never a
    single-task sort of the vocab-sized counts."""
    docs = load_table(spark, sf_dir, "documents")
    # round 11 measured-and-rejected: the Arrow multiset kernel was a
    # loss here (0.64 -> 0.98 s bench) — the (bigram, doc_id) partial
    # distinct already collapses map-side, so the kernel saves no
    # exchange volume (see top_ngrams_by_lang note)
    bi = dedup.word_shingles(docs, n=2, distinct=False).withColumnRenamed(
        "shingle", "bigram"
    )
    counted = bi.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    # TakeOrderedAndProject, not a partitionless row_number window (which
    # sorts the vocab-sized count table in one task)
    return (
        counted.orderBy(F.col("n").desc(), "bigram")
        .limit(20)
        .select("bigram", "n", "n_docs")
    )


# ---------------------------------------------------------------------------
# Corpus curation: decontamination, repetition filters, stratified sampling
# ---------------------------------------------------------------------------


def _ngram_list_sql(n: int) -> str:
    """DuckDB fragment: list of word n-grams of ``text`` (empty when short)."""
    return (
        f"CASE WHEN len({_TOKS}) >= {n} THEN list_transform("
        f"generate_series(1, len({_TOKS}) - {n - 1}), "
        f"i -> array_to_string(list_slice({_TOKS}, i, i + {n - 1}), ' ')) "
        "ELSE [] END"
    )


_EVAL_HASH = sql_hash64("'eval' || CAST(doc_id AS VARCHAR)")


@register(
    "decontamination_overlap",
    f"""
    WITH
    train_grams AS (
      SELECT DISTINCT doc_id, unnest({_ngram_list_sql(8)}) AS gram
      FROM documents WHERE {_EVAL_HASH} % 20 <> 0
    ),
    eval_grams AS (
      SELECT DISTINCT unnest({_ngram_list_sql(8)}) AS gram
      FROM documents WHERE {_EVAL_HASH} % 20 = 0
    )
    SELECT t.doc_id,
           COUNT(*) AS n_ngrams,
           COUNT(e.gram) AS n_contaminated,
           COUNT(e.gram) > 0 AS contaminated
    FROM train_grams t LEFT JOIN eval_grams e USING (gram)
    GROUP BY t.doc_id
    """,
)
def q_decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: flag train docs sharing any word 8-gram
    with a deterministic held-out eval split (~5% of the corpus). The eval
    gram set broadcasts; the corpus side is one scan + one combinable
    groupBy, with grams crossing the wire as 8-byte hashes."""
    docs = load_table(spark, sf_dir, "documents")
    pred = curation.eval_split_pred()
    return curation.contamination(docs.where(~pred), docs.where(pred), n=8)


@register(
    "repetition_features",
    f"""
    WITH
    bi AS (
      SELECT doc_id, unnest({_ngram_list_sql(2)}) AS gram FROM documents
    ),
    counts AS (SELECT doc_id, gram, COUNT(*) AS c FROM bi GROUP BY 1, 2),
    ranked AS (
      SELECT doc_id, gram, c, len(gram) * c AS gc,
             row_number() OVER (
               PARTITION BY doc_id ORDER BY c DESC, gram DESC) AS rn
      FROM counts
    ),
    agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_bigrams,
             COUNT(*) AS n_distinct_bigrams,
             CAST(SUM(len(gram) * c) AS BIGINT) AS total_gc
      FROM counts GROUP BY doc_id
    )
    SELECT a.doc_id, a.n_bigrams, a.n_distinct_bigrams,
           r.gram AS top_bigram, r.c AS top_bigram_count,
           CAST(a.n_bigrams - a.n_distinct_bigrams AS DOUBLE)
             / CAST(a.n_bigrams AS DOUBLE) AS dup_bigram_frac,
           CAST(r.gc AS DOUBLE) / CAST(a.total_gc AS DOUBLE)
             AS top_bigram_char_frac
    FROM agg a JOIN ranked r ON r.doc_id = a.doc_id AND r.rn = 1
    """,
)
def q_repetition_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: duplicate-bigram fraction and
    top-bigram character mass per doc — two chained combinable groupBys,
    no joins back against the corpus."""
    return curation.repetition_features(load_table(spark, sf_dir, "documents"))


_SAMPLE_RATES = {"src0": 1.0, "src5": 0.5, "src10": 0.25, "src15": 0.1}


@register(
    "stratified_sample_by_source",
    f"""
    SELECT doc_id, source, lang FROM documents
    WHERE {sql_hash64("'sample' || CAST(doc_id AS VARCHAR)")} % 10000 <
      CASE source WHEN 'src0' THEN 10000 WHEN 'src5' THEN 5000
                  WHEN 'src10' THEN 2500 WHEN 'src15' THEN 1000
                  ELSE 500 END
    """,
)
def q_stratified_sample_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain mixing: per-source keep rates via a salted id
    hash — reproducible across engines/retries (unlike RNG ``sample``),
    shuffle-free, and filter-pushed to the scan."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.stratified_sample(
        docs, _SAMPLE_RATES, default_rate=0.05
    ).select("doc_id", "source", "lang")


# ---------------------------------------------------------------------------
# Sequence packing: fixed-context token-stream assignment
# ---------------------------------------------------------------------------


@register(
    "sequence_packing",
    f"""
    WITH d AS (
      SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum_before
      FROM d WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens, cum_before,
           cum_before // 2048 AS seq_id,
           cum_before % 2048 AS seq_offset,
           (cum_before + n_tokens - 1) // 2048
             - cum_before // 2048 + 1 AS n_seqs_spanned
    FROM c
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style packing: each doc's slot in the concatenated 2048-token
    training stream (start sequence, offset, sequences spanned). The
    global prefix sum runs range-partitioned with broadcast carry offsets
    (operators/packing.py) — the oracle's bare ``SUM() OVER (ORDER BY)``
    is exactly the single-task plan the operator avoids."""
    from mdio_python_spark.operators.packing import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"), 2048)


# ---------------------------------------------------------------------------
# Hashed linear model scoring (fasttext-style embedding-bag inference)
# ---------------------------------------------------------------------------


def _scoring_oracle() -> str:
    from mdio_python_spark.operators.scoring import sql_token_weight

    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOKS}) AS token FROM documents
    ),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM({sql_token_weight('token')}) AS BIGINT) AS weight_sum
      FROM tok GROUP BY doc_id
    ),
    scored AS (
      SELECT doc_id, n_tokens, weight_sum,
             CAST(weight_sum AS DOUBLE)
               / (CAST(n_tokens AS DOUBLE) * 50001.0) AS score
      FROM agg
    )
    SELECT doc_id, n_tokens, weight_sum, score,
           CASE WHEN score >= 0.05 THEN 'keep'
                WHEN score >= -0.05 THEN 'review'
                ELSE 'drop' END AS label
    FROM scored
    """


@register("quality_model_score", _scoring_oracle())
def q_quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model scoring at corpus scale: a fasttext-shaped hashed linear
    classifier — token -> weight bucket (computed from the shared hash64,
    no weight-table join), exact BIGINT accumulation, one double divide.
    Plan: explode + one combinable groupBy; weights cross the wire as
    longs. A deployed model would broadcast a real weight array into the
    same plan."""
    from mdio_python_spark.operators.scoring import model_score

    return model_score(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# K-means (Lloyd) — the iterative-algorithm pattern, one verifiable step
# ---------------------------------------------------------------------------


def _kmeans_oracle(k: int = 8) -> str:
    from mdio_python_spark.functions.determinism import sql_dsum

    cos = _IVF_COS.format(a="embedding", b="cent_vec")
    return f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cent_vec
      FROM embeddings WHERE vec_id < {k}
    ),
    assign AS (
      SELECT vec_id, embedding, CAST(cid AS BIGINT) AS cluster
      FROM embeddings, cent
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY {cos} DESC, cid) = 1
    ),
    dims AS (
      SELECT cluster,
             CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
             unnest(embedding) AS val
      FROM assign
    )
    SELECT cluster, dim, COUNT(*) AS n_members,
           {sql_dsum("CAST(val AS DOUBLE)", 8)}
             / CAST(COUNT(*) AS DOUBLE) AS centroid
    FROM dims GROUP BY cluster, dim
    """


@register("kmeans_lloyd_step", _kmeans_oracle())
def q_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One verifiable Lloyd iteration of k-means (k=8) on the embedding
    corpus: literal-centroid argmax assignment (pure projection, zero
    joins) + per-(cluster, dim) exact-decimal means — the corpus-scale
    iterative-training pattern; ``operators/kmeans.py::kmeans_fit`` loops
    this step with a k x dim driver round-trip per iteration."""
    from mdio_python_spark.operators.kmeans import lloyd_step

    emb = load_table(spark, sf_dir, "embeddings")
    cents = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in sorted(
            emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect(),
            key=lambda r: r[0],
        )
    ]
    return lloyd_step(emb, cents)


# ---------------------------------------------------------------------------
# Lexical retrieval: BM25 relevance + fixed-vocabulary term statistics
# ---------------------------------------------------------------------------

_BM25_TERMS = ["hash", "spark", "stream", "vector"]
_BM25_K = 15


def _bm25_oracle(k: int = _BM25_K, final_select: bool = True) -> str:
    """BM25 oracle; ``final_select=False`` returns only the CTE chain
    (ending in a ``lex`` top-k relation) for composition into the hybrid
    fusion oracle."""
    from mdio_python_spark.operators.retrieval import B, K1

    tf_cols = ",\n             ".join(
        f"len(list_filter({_TOKS}, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n             ".join(
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    # expression tree mirrors operators.retrieval.bm25_scores EXACTLY
    # (same association order, double promotion points, and repr'd
    # float literals) so IEEE arithmetic lands bit-identical.
    norm = (
        f"({1.0 - B!r} + (({B!r} * CAST(dl AS DOUBLE)) * CAST(n_docs AS DOUBLE))"
        " / CAST(sum_dl AS DOUBLE))"
    )
    terms = []
    for i in range(len(_BM25_TERMS)):
        idf = (
            f"((CAST(n_docs - df{i} AS DOUBLE) + 0.5)"
            f" / (CAST(df{i} AS DOUBLE) + 0.5))"
        )
        tf_part = (
            f"((CAST(tf{i} AS DOUBLE) * {K1 + 1.0!r})"
            f" / (CAST(tf{i} AS DOUBLE) + ({K1!r} * {norm})))"
        )
        terms.append(
            f"(CASE WHEN tf{i} > 0 THEN {idf} * {tf_part} ELSE 0.0 END)"
        )
    score = " + ".join(terms)
    ctes = f"""per_doc AS (
      SELECT doc_id, len({_TOKS}) AS dl,
             {tf_cols}
      FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
             {df_cols}
      FROM per_doc
    ),
    bm_scored AS (
      SELECT doc_id, {score} AS score FROM per_doc, stats
    ),
    lex AS (
      SELECT doc_id, score, rank FROM (
        SELECT doc_id, score,
               ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
        FROM bm_scored WHERE score > 0
      ) WHERE rank <= {k}
    )"""
    if not final_select:
        return ctes
    return f"""
    WITH {ctes}
    SELECT doc_id, score, rank FROM lex
    """


@register("bm25_topk", _bm25_oracle())
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval: rational-idf BM25 top-15 for a fixed 4-term
    query. For a fixed term set the per-doc term frequencies are pure
    Column expressions over the token array — no corpus explode, no
    shuffle; corpus stats attach as a broadcast 1-row join, and only
    score-positive docs reach the final (tiny) rank sort. See
    operators/retrieval.py for the determinism story (no ln: IEEE
    rational arithmetic only)."""
    from mdio_python_spark.operators.retrieval import bm25_topk

    return bm25_topk(load_table(spark, sf_dir, "documents"), _BM25_TERMS, k=_BM25_K)


def _hybrid_oracle() -> str:
    cos = _IVF_COS.format(a="embedding", b="q_vec")
    term = "COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + {r} AS DOUBLE), CAST(0.0 AS DOUBLE))"
    return f"""
    WITH {_bm25_oracle(k=20, final_select=False)},
    q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
    vec_scored AS (
      SELECT vec_id AS doc_id, {cos} AS cos
      FROM embeddings, q WHERE vec_id <> 0
    ),
    vec AS (
      SELECT doc_id, rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rank
        FROM vec_scored
      ) WHERE rank <= 20
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             l.rank AS rank_lex, v.rank AS rank_vec,
             {term.format(r="l.rank")} + {term.format(r="v.rank")} AS rrf_score
      FROM lex l FULL JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, rank_lex, rank_vec, rrf_score, rank FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id) AS rank
      FROM fused
    ) WHERE rank <= 10
    """


@register("hybrid_search_rrf", _hybrid_oracle())
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-20 (fixed 4-term query) fused with
    cosine top-20 against a fixed query vector by reciprocal-rank fusion
    (1/(60+rank), Cormack et al. 2009) — the standard lexical+vector
    combiner, rank-based so the two score scales never need calibration.
    The corpus-sized work lives in the two retrievers (both shuffle-free
    on the corpus side); the fusion joins two top-20 lists. Embeddings
    link to documents by vec_id == doc_id."""
    from mdio_python_spark.operators.retrieval import bm25_topk, rrf_fuse
    from mdio_python_spark.operators.similarity import (
        _lfold_norm,
        _lit_vec,
        dot,
        norm,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    lex = bm25_topk(docs, _BM25_TERMS, k=20)
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    scored = emb.where(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("doc_id"),
        (
            dot(F.col("embedding"), _lit_vec(qv))
            / (norm(F.col("embedding")) * F.lit(_lfold_norm(qv)))
        ).alias("cos"),
    )
    from mdio_python_spark.operators.ranking import constant_partition

    # rank <= 20 compiles to WindowGroupLimit (per-task local top-20
    # before the final window); the constant partition key marks the
    # single final partition deliberate
    w = Window.partitionBy(constant_partition("doc_id")).orderBy(
        F.col("cos").desc(), F.col("doc_id")
    )
    vec = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select("doc_id", "rank")
    )
    out = rrf_fuse(lex.select("doc_id", "rank"), vec, k=10)
    return out.select(
        "doc_id",
        F.col("rank_lex").cast("long").alias("rank_lex"),
        F.col("rank_vec").cast("long").alias("rank_vec"),
        "rrf_score",
        "rank",
    )


def _term_stats_oracle() -> str:
    tf_cols = ",\n             ".join(
        f"len(list_filter({_TOKS}, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    aggs = ",\n             ".join(
        f"CAST(SUM(tf{i}) AS BIGINT) AS cf{i},\n             "
        f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    selects = "\n    UNION ALL ".join(
        f"SELECT '{t}' AS term, cf{i} AS collection_freq, df{i} AS doc_freq"
        " FROM agg"
        for i, t in enumerate(_BM25_TERMS)
    )
    return f"""
    WITH per_doc AS (
      SELECT {tf_cols} FROM documents
    ),
    agg AS (
      SELECT {aggs} FROM per_doc
    )
    {selects}
    """


@register("term_stats", _term_stats_oracle())
def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-vocabulary term statistics (collection + document frequency):
    one combinable corpus aggregate producing a single row, pivoted to one
    row per term by exploding a k-element literal struct array — the
    corpus itself is never exploded."""
    from mdio_python_spark.operators.retrieval import term_stats

    return term_stats(load_table(spark, sf_dir, "documents"), _BM25_TERMS)


# ---------------------------------------------------------------------------
# Temperature resampling + dataset-card stats
# ---------------------------------------------------------------------------


@register(
    "temperature_resample",
    f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    mn AS (SELECT MIN(n) AS n_min FROM counts),
    rates AS (
      SELECT source,
             CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n AS DOUBLE))
                        * 1000000) AS BIGINT) AS keep_below
      FROM counts, mn
    )
    SELECT d.doc_id, d.source, d.lang
    FROM documents d JOIN rates r USING (source)
    WHERE {sql_hash64("'temp' || CAST(doc_id AS VARCHAR)")} % 1000000
          < r.keep_below
    """,
)
def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) source rebalancing: keep counts
    proportional to sqrt(n_source) via a deterministic salted-hash
    threshold — the standard corpus-mixing step before training. Tiny
    combinable count agg broadcast back; corpus side is scan + broadcast
    join + filter (no corpus shuffle). sqrt is IEEE-correctly-rounded in
    both engines, which is why alpha is pinned to 0.5
    (operators/curation.py:temperature_resample)."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.temperature_resample(docs).select("doc_id", "source", "lang")


@register(
    "dataset_card_stats",
    f"""
    WITH per_doc AS (
      SELECT source, lang, doc_id, n_chars, len({_TOKS}) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (
               PARTITION BY source, lang ORDER BY n_chars, doc_id) AS rn
      FROM per_doc
    ),
    agg AS (
      SELECT source, lang, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
             MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      FROM per_doc GROUP BY source, lang
    )
    SELECT a.source, a.lang, a.n_docs, a.total_chars, a.total_tokens,
           a.min_chars, a.max_chars, r.n_chars AS median_chars
    FROM agg a JOIN ranked r
      ON r.source = a.source AND r.lang = a.lang
     AND r.rn = (a.n_docs + 1) // 2
    """,
)
def q_dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup per (source, lang): doc/char/token totals,
    char-length extrema, and the exact lower median of n_chars (element
    at rank (n+1) div 2 under a total order — deterministic in both
    engines, unlike interpolating percentiles). Two combinable groupBys
    plus one partitioned window; the window's per-group sort is the cost
    of an EXACT median — at 100 TB swap in approx_percentile and keep
    this form for audit runs."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    per_doc = docs.select(
        "source", "lang", "doc_id", "n_chars",
        F.size(toks).cast("long").alias("n_tokens"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source", "lang").orderBy("n_chars", "doc_id")
    ranked = per_doc.withColumn("rn", F.row_number().over(w))
    agg = per_doc.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    med = ranked.join(
        F.broadcast(agg.select("source", "lang", "n_docs")),
        ["source", "lang"],
    ).where(F.col("rn") == F.expr("(n_docs + 1) div 2"))
    return (
        agg.join(
            med.select("source", "lang", F.col("n_chars").alias("median_chars")),
            ["source", "lang"],
        ).select(
            "source", "lang", "n_docs", "total_chars", "total_tokens",
            "min_chars", "max_chars", "median_chars",
        )
    )


@register(
    "document_chunks",
    f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents
    ),
    exploded AS (
      SELECT doc_id,
             unnest(generate_series(0, greatest(len(tk) - 1, 0), 48)) AS chunk_start,
             generate_subscripts(generate_series(0, greatest(len(tk) - 1, 0), 48), 1) - 1
               AS chunk_idx,
             tk
      FROM toked
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           CAST(len(list_slice(tk, chunk_start + 1, chunk_start + 64)) AS BIGINT)
             AS n_chunk_tokens,
           {sql_hash64("array_to_string(list_slice(tk, chunk_start + 1, chunk_start + 64), ' ')")}
             AS chunk_hash
    FROM exploded
    """,
)
def q_document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style chunking: 64-token windows every 48 tokens (16 overlap)
    per document — pure sequence/posexplode/slice array expressions, no
    shuffle; chunk text crosses as an 8-byte hash
    (operators/text.py:chunk_documents)."""
    return text.chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=64, overlap=16
    )


@register(
    "segment_dedup_stats",
    f"""
    WITH toked AS (
      SELECT doc_id, {_TOKS} AS tk FROM documents
    ),
    exploded AS (
      SELECT doc_id,
             unnest(generate_series(0, greatest(len(tk) - 1, 0), 32)) AS s,
             tk
      FROM toked
    ),
    segs AS (
      SELECT doc_id,
             {sql_hash64("array_to_string(list_slice(tk, s + 1, s + 32), ' ')")}
               AS chunk_hash
      FROM exploded
    ),
    freq AS (
      SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs
      FROM segs GROUP BY chunk_hash
    )
    SELECT s.doc_id,
           COUNT(*) AS n_segments,
           CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_segments,
           CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
    FROM segs s JOIN freq f USING (chunk_hash)
    GROUP BY s.doc_id
    """,
)
def q_segment_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicated-segment fraction (the web-pipeline
    "duplicate line fraction" filter over flat 32-word segments):
    segments cross as 8-byte hashes, frequency is a combinable distinct
    count, join back is hash-co-partitioned — no corpus broadcast
    (operators/dedup.py:segment_dedup_stats)."""
    return dedup.segment_dedup_stats(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Product quantization: encode + ADC (the embedding-compression scale path)
# ---------------------------------------------------------------------------

_L2SQ = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(generate_series(1, len({a})), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE)))), (x, y) -> x + y)"
)

_PQ_M, _PQ_K, _PQ_SUB = 4, 8, 16  # 64-dim = 4 subspaces x 16 dims, 8 codes


def _pq_oracle() -> str:
    """Everything (codebooks, codes, ADC tables) derives from the SAME
    sf the driver queries, in both engines: the per-subspace
    query-to-codeword distances are computed in SQL with the identical
    left fold the Spark side's plan-build-time tables use
    (``_py_l2sq`` == ``_L2SQ``), so the literal-lookup and the
    SQL-computed values are bit-equal."""
    subs = []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_SUB + 1, (m + 1) * _PQ_SUB
        d_ec = _L2SQ.format(
            a=f"list_slice(e.embedding, {lo}, {hi})",
            b=f"list_slice(c.embedding, {lo}, {hi})",
        )
        d_qc = _L2SQ.format(
            a=f"list_slice(q.q_vec, {lo}, {hi})",
            b=f"list_slice(c.embedding, {lo}, {hi})",
        )
        subs.append(
            f"""sub{m} AS (
      SELECT e.vec_id, CAST(c.code_pos AS BIGINT) AS code_{m}, {d_qc} AS t{m}
      FROM embeddings e, cb c, q
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY e.vec_id ORDER BY {d_ec}, c.code_pos) = 1
    )"""
        )
    adc = " + ".join(f"t{m}" for m in range(_PQ_M))
    joins = " ".join(f"JOIN sub{m} USING (vec_id)" for m in range(1, _PQ_M))
    return f"""
    WITH cb AS (
      -- code = POSITION in the sorted id-prefix (matches pq_encode's
      -- enumerate over sorted collected rows even if ids are sparse)
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code_pos, embedding
      FROM embeddings WHERE vec_id < {_PQ_K}
    ),
    q AS (SELECT embedding AS q_vec FROM cb WHERE code_pos = 0),
    {", ".join(subs)}
    SELECT vec_id, code_0, code_1, code_2, code_3,
           {adc} AS adc_dist
    FROM sub0 {joins}
    """


@register("embedding_pq_adc", _pq_oracle())
def q_embedding_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou et al. TPAMI 2011): per-subspace
    argmin against literal codebooks (pure projection, no shuffle —
    64-dim float32 compresses to 4 codes) plus asymmetric-distance
    scoring to a fixed query via plan-build-time literal lookup tables
    (4 lookups + adds per candidate instead of a 64-dim dot product).
    Codebooks/query derive from the queried sf in BOTH engines
    (operators/similarity.py: pq_codebooks/pq_encode/pq_adc_distance)."""
    from mdio_python_spark.operators.similarity import (
        pq_adc_distance,
        pq_codebooks,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books, sub = pq_codebooks(emb, n_subspaces=_PQ_M, n_codes=_PQ_K)
    # query vector = first codeword (already collected: books[m][0] is
    # subspace m of the smallest-id row) — no second driver round-trip
    q_vec = [x for m in range(_PQ_M) for x in books[m][0]]
    codes = pq_encode(emb, books, sub)
    return codes.select(
        "vec_id",
        *[f"code_{m}" for m in range(_PQ_M)],
        pq_adc_distance(codes, q_vec, books, sub).alias("adc_dist"),
    )


# ---------------------------------------------------------------------------
# Fit-once / serve-many ANN (round 6): serving queries read the COMMITTED
# canonical model artifacts (artifacts/models/*.parquet, trained by
# tools/fit_models.py on the sf0.01 embeddings — see operators/model_store).
# The iterative fit itself is timed separately by the *_model_fit queries
# in plans/model_queries.py; serving is a pure projection whose oracle
# reads the SAME artifact via read_parquet, so the fitted family is now
# DuckDB-oracle-paired (the fit, not SQL-expressible, keeps a local gate).
# ---------------------------------------------------------------------------

def _artifact_cent_cte() -> str:
    """Centroid CTE reconstructing (cid, cent_vec) from the canonical IVF
    artifact — drop-in for _IVF_ORACLE's id-prefix `cent`."""
    from mdio_python_spark.operators.model_store import IVF_CENTROIDS_PATH

    return f"""cent AS (
      SELECT CAST(centroid_id AS BIGINT) AS cid,
             list(value ORDER BY dim) AS cent_vec
      FROM read_parquet('{IVF_CENTROIDS_PATH}')
      GROUP BY centroid_id
    )"""


def _artifact_cb_cte() -> str:
    """Codebook CTE reconstructing (m, code_pos, cw) subvectors from the
    canonical PQ artifact."""
    from mdio_python_spark.operators.model_store import PQ_CODEBOOKS_PATH

    return f"""cb AS (
      SELECT CAST(subspace AS BIGINT) AS m, CAST(code AS BIGINT) AS code_pos,
             list(value ORDER BY dim) AS cw
      FROM read_parquet('{PQ_CODEBOOKS_PATH}')
      GROUP BY subspace, code
    )"""


def _ivf_serve_oracle() -> str:
    """`_IVF_ORACLE` with artifact centroids: same assignment, probe, and
    rank logic — the `list_reduce` folds are bit-equal to Spark's
    plan-literal folds because the artifact stores exact doubles."""
    return f"""
    WITH {_artifact_cent_cte()},
    assign AS (
      SELECT vec_id, embedding, CAST(cid AS BIGINT) AS cell
      FROM embeddings, cent
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id
        ORDER BY {_IVF_COS.format(a="embedding", b="cent_vec")} DESC, cid) = 1
    ),
    probes AS (
      SELECT q.vec_id AS query_id, q.embedding AS q_vec, CAST(cid AS BIGINT) AS cell
      FROM embeddings q, cent
      WHERE q.vec_id < 50
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_IVF_COS.format(a="q.embedding", b="cent_vec")} DESC, cid) <= 4
    ),
    scored AS (
      SELECT query_id, a.vec_id AS candidate_id, a.cell,
             {_IVF_COS.format(a="q_vec", b="a.embedding")} AS cosine
      FROM assign a JOIN probes p ON a.cell = p.cell
      WHERE query_id <> a.vec_id
    )
    SELECT query_id, candidate_id, cell, cosine, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, candidate_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 3
    """


def _pq_serve_oracle() -> str:
    """PQ encode + ADC against the canonical codebook artifact: per
    subspace, codewords ARE the stored subvectors (vs `_pq_oracle`'s
    slices of id-prefix rows); the implicit query vector is the
    concatenation of each subspace's code-0 codeword, exactly what the
    Spark serve query slices out of the loaded books."""
    subs = []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_SUB + 1, (m + 1) * _PQ_SUB
        d_ec = _L2SQ.format(
            a=f"list_slice(e.embedding, {lo}, {hi})", b="c.cw"
        )
        d_qc = _L2SQ.format(a="q.q_vec", b="c.cw")
        subs.append(
            f"""sub{m} AS (
      SELECT e.vec_id, c.code_pos AS code_{m}, {d_qc} AS t{m}
      FROM embeddings e, cb c,
           (SELECT cw AS q_vec FROM cb WHERE m = {m} AND code_pos = 0) q
      WHERE c.m = {m}
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY e.vec_id ORDER BY {d_ec}, c.code_pos) = 1
    )"""
        )
    adc = " + ".join(f"t{m}" for m in range(_PQ_M))
    joins = " ".join(f"JOIN sub{m} USING (vec_id)" for m in range(1, _PQ_M))
    return f"""
    WITH {_artifact_cb_cte()},
    {", ".join(subs)}
    SELECT vec_id, {", ".join(f"code_{m}" for m in range(_PQ_M))},
           {adc} AS adc_dist
    FROM sub0 {joins}
    """


def _ivfpq_serve_oracle(k: int = 3) -> str:
    """IVF cell bound x PQ-code ADC scoring, both from the canonical
    artifacts: per-pair ADC terms are the SAME left fold the Spark side
    precomputes into per-query lookup tables, so literal-lookup and
    SQL-computed sums are bit-equal. ``k`` parameterizes the final
    top-k so the two-stage rerank query can reuse this chain as its
    shortlist stage (plans/pipeline_queries.py)."""
    subs, terms, joins = [], [], []
    for m in range(_PQ_M):
        lo, hi = m * _PQ_SUB + 1, (m + 1) * _PQ_SUB
        d_ec = _L2SQ.format(
            a=f"list_slice(e.embedding, {lo}, {hi})", b="c.cw"
        )
        subs.append(
            f"""sub{m} AS (
      SELECT e.vec_id, c.code_pos AS code_{m}
      FROM embeddings e, cb c
      WHERE c.m = {m}
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY e.vec_id ORDER BY {d_ec}, c.code_pos) = 1
    )"""
        )
        terms.append(
            _L2SQ.format(
                a=f"list_slice(p.q_vec, {lo}, {hi})", b=f"cb{m}.cw"
            )
        )
        joins.append(
            f"JOIN cb cb{m} ON cb{m}.m = {m} AND cb{m}.code_pos = a.code_{m}"
        )
    code_joins = " ".join(
        f"JOIN sub{m} USING (vec_id)" for m in range(1, _PQ_M)
    )
    return f"""
    WITH {_artifact_cent_cte()},
    {_artifact_cb_cte()},
    assign AS (
      SELECT vec_id, CAST(cid AS BIGINT) AS cell
      FROM embeddings, cent
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id
        ORDER BY {_IVF_COS.format(a="embedding", b="cent_vec")} DESC, cid) = 1
    ),
    {", ".join(subs)},
    codes AS (
      SELECT vec_id, cell, {", ".join(f"code_{m}" for m in range(_PQ_M))}
      FROM assign JOIN sub0 USING (vec_id) {code_joins}
    ),
    probes AS (
      SELECT q.vec_id AS query_id, q.embedding AS q_vec, CAST(cid AS BIGINT) AS cell
      FROM embeddings q, cent
      WHERE q.vec_id < 50
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY q.vec_id
        ORDER BY {_IVF_COS.format(a="q.embedding", b="cent_vec")} DESC, cid) <= 4
    ),
    scored AS (
      SELECT query_id, a.vec_id AS candidate_id, a.cell,
             {" + ".join(terms)} AS adc_dist
      FROM codes a JOIN probes p ON a.cell = p.cell
      {" ".join(joins)}
      WHERE query_id <> a.vec_id
    )
    SELECT query_id, candidate_id, cell, adc_dist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY adc_dist, candidate_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


@register("embedding_ivfpq_adc", _ivfpq_serve_oracle(), eager=True)
def q_embedding_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving — the full Jegou et al. system with the FITTED
    canonical model: Voronoi cells bound which candidates each query
    scores (4-probe of 16 fitted cells), PQ codes bound what crosses the
    probe join (4 codes instead of the 64-dim vector), and ADC scores
    each candidate with 4 lookup-adds against per-query literal tables.
    This is the deployed shape of billion-vector ANN at 100 TB: the model
    is read from the persisted artifact (fit-once/serve-many — nobody
    refits per query), shuffled bytes per candidate drop ~20x, and every
    distance stays a left-fold double (operators/similarity.py:ivfpq_topk,
    operators/model_store.py)."""
    from mdio_python_spark.operators.model_store import (
        load_ivf_centroids,
        load_pq_codebooks,
    )
    from mdio_python_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb.where(F.col("vec_id") < 50), emb,
        k=3, n_centroids=16, nprobe=4,
        centroids=load_ivf_centroids(),
        codebooks=load_pq_codebooks(),
    )


@register("embedding_ivf_fitted", _ivf_serve_oracle(), eager=True)
def q_embedding_ivf_fitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat serving with PRODUCTION-path centroids read from the
    persisted model artifact (fit-once/serve-many): the Lloyd-fitted
    centroids enter the ivf_local_topk Arrow kernel (round 11;
    eager=True — construction collects the query sample). The fit leg is
    `ivf_model_fit` (plans/model_queries.py); serving is oracle-paired —
    DuckDB reads the same artifact via read_parquet."""
    from mdio_python_spark.operators.model_store import load_ivf_centroids
    from mdio_python_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb.where(F.col("vec_id") < 50), emb, k=3, nprobe=4,
        centroids=load_ivf_centroids(),
    )


@register("embedding_pq_fitted", _pq_serve_oracle())
def q_embedding_pq_fitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode + ADC serving with PRODUCTION-path codebooks read from
    the persisted model artifact (fit-once/serve-many): pure-projection
    encode and literal-table ADC scoring against a fixed query (the
    concatenated code-0 codewords). The per-subspace Lloyd fit leg is
    `pq_model_fit` (plans/model_queries.py); serving is oracle-paired."""
    from mdio_python_spark.operators.model_store import load_pq_codebooks
    from mdio_python_spark.operators.similarity import (
        pq_adc_distance,
        pq_encode,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books, sub = load_pq_codebooks()
    q_vec = [x for m in range(len(books)) for x in books[m][0]]
    codes = pq_encode(emb, books, sub)
    return codes.select(
        "vec_id",
        *[f"code_{m}" for m in range(len(books))],
        pq_adc_distance(codes, q_vec, books, sub).alias("adc_dist"),
    )


# ---------------------------------------------------------------------------
# Corpus statistics & splits (round 4 additions)
# ---------------------------------------------------------------------------


@register(
    "quality_percentile_bands",
    """
    WITH ranked AS (
      SELECT lang, n_chars, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
               AS rn
      FROM documents
    ),
    agg AS (SELECT lang, COUNT(*) AS _n FROM documents GROUP BY lang)
    SELECT r.lang, MAX(_n) AS n_rows,
           MAX(CASE WHEN rn = (1 * _n + 3) // 4 THEN n_chars END) AS p25,
           MAX(CASE WHEN rn = (1 * _n + 1) // 2 THEN n_chars END) AS p50,
           MAX(CASE WHEN rn = (3 * _n + 3) // 4 THEN n_chars END) AS p75
    FROM ranked r JOIN agg a ON r.lang = a.lang
    GROUP BY r.lang
    """,
)
def q_quality_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact quartiles of document length — the distribution
    bands a curation pipeline uses to set length filters per language
    rather than one global threshold. Discrete rank-``ceil(q*n)``
    quantiles (see ``operators.stats.exact_group_quantiles``): pure
    integer rank arithmetic, bit-identical across engines."""
    from mdio_python_spark.operators.stats import exact_group_quantiles

    docs = load_table(spark, sf_dir, "documents")
    return exact_group_quantiles(
        docs, ["lang"], "n_chars", "doc_id", qs=(0.25, 0.5, 0.75)
    )


@register(
    "train_val_test_split",
    f"""
    WITH assigned AS (
      SELECT lang, n_chars,
             CASE WHEN b < 80 THEN 'train'
                  WHEN b < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM (
        SELECT lang, n_chars,
               {sql_hash64("'split' || CAST(doc_id AS VARCHAR)")} % 100 AS b
        FROM documents
      )
    )
    SELECT split, lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY split, lang
    """,
)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment audited per
    language: the salted-hash split of ``curation.assign_split`` (stable
    under corpus growth, reproducible across engines and retries — the
    properties ``randomSplit`` lacks) rolled up to split x lang counts.
    Scale shape: pure projection + one combinable groupBy."""
    from mdio_python_spark.operators.curation import assign_split

    docs = load_table(spark, sf_dir, "documents")
    return assign_split(docs).groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def _rp_oracle() -> str:
    from mdio_python_spark.operators.similarity import sql_random_project

    frags = sql_random_project(out_dim=8, in_dim=64)
    cols = ",\n           ".join(
        f"{frag} AS rp_{j}" for j, frag in enumerate(frags)
    )
    return f"SELECT vec_id,\n           {cols}\n    FROM embeddings"


@register("embedding_random_projection", _rp_oracle())
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss reduction of the 64-dim embeddings to 8 dims
    by a literal Rademacher matrix (Achlioptas 2003) — the standard
    pre-step that makes downstream ANN bucketing/IVF cheaper by the
    dimension ratio. Pure projection: the matrix is plan literals, each
    output one left-fold over the array (the cross-engine determinism
    contract of ``similarity._sql_l2sq``); no shuffle, no Python."""
    from mdio_python_spark.operators.similarity import random_project

    emb = load_table(spark, sf_dir, "embeddings")
    return random_project(emb, out_dim=8, in_dim=64).select(
        "vec_id", *[f"rp_{j}" for j in range(8)]
    )


def _rp_bucketed_oracle() -> str:
    from mdio_python_spark.operators.similarity import sql_random_project

    frags = sql_random_project(out_dim=8, in_dim=64)
    rp_cols = ", ".join(f"{frag} AS rp_{j}" for j, frag in enumerate(frags))
    bucket = " + ".join(
        f"CASE WHEN rp_{j} > 0 THEN {2**j} ELSE 0 END" for j in range(8)
    )
    return f"""
    WITH proj AS (
      SELECT vec_id, embedding, {rp_cols} FROM embeddings
    ),
    b AS (
      SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket FROM proj
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS q_vec, bucket
      FROM b WHERE vec_id < 50
    ),
    c AS (SELECT vec_id AS candidate_id, embedding AS c_vec, bucket FROM b),
    scored AS (
      SELECT query_id, candidate_id, c.bucket,
             {_DOT.format(a="q_vec", b="c_vec")}
               / (sqrt({_DOT.format(a="q_vec", b="q_vec")})
                  * sqrt({_DOT.format(a="c_vec", b="c_vec")})) AS cosine
      FROM c JOIN q USING (bucket) WHERE query_id <> candidate_id
    )
    SELECT query_id, candidate_id, bucket, cosine, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, candidate_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 3
    """


@register("embedding_rp_bucketed_ann", _rp_bucketed_oracle())
def q_rp_bucketed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL-then-bucket ANN — the composed scale path: buckets come from the
    sign pattern of the 8-dim random projection (a TRUE random-hyperplane
    LSH, unlike ``sign_bucket``'s axis-aligned planes on raw dims), while
    the in-bucket score is exact cosine on the ORIGINAL 64-dim vectors.
    At 100 TB the projection is a free pure-projection pre-step, the
    bucket id is the partition key, and hyperplane buckets balance better
    than raw-axis signs on anisotropic embeddings."""
    from mdio_python_spark.operators.similarity import random_project, sign_bucket
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    proj = random_project(emb, out_dim=8, in_dim=64).withColumn(
        "bucket",
        sign_bucket("array(" + ",".join(f"rp_{j}" for j in range(8)) + ")", 8),
    )
    q = proj.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        "bucket",
    )
    c = proj.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("embedding").alias("c_vec"),
        "bucket",
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id", "candidate_id", "bucket",
            similarity.cosine(F.col("q_vec"), F.col("c_vec")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("candidate_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("query_id", "candidate_id", "bucket", "cosine", "rank")
    )


def _pagerank_oracle() -> str:
    from mdio_python_spark.operators.graph import sql_pagerank_ctes

    return f"""
    WITH {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM candidate_pairs
      UNION
      SELECT doc_b, doc_a FROM candidate_pairs
    ),
    {sql_pagerank_ctes("edges", iters=3)}
    SELECT id AS doc_id, r AS pagerank FROM pr_3
    """


@register("similarity_graph_pagerank", _pagerank_oracle(), eager=True)
def q_similarity_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-duplicate similarity graph (LSH candidate
    pairs, both directions): high-rank documents sit at the center of
    duplicate clusters — the centrality signal used to pick canonical
    representatives and to spot template farms. Three synchronous
    iterations (`operators.graph.pagerank`); neighbor sums run in exact
    decimal so the chained-CTE oracle matches bit-for-bit. Round 11:
    small graphs (edge-count-gated by caching.size_gated — eager=True,
    the cc precedent) run in a single-task kernel with zero
    joins; large graphs keep the distributed iterations (edges
    hash-partitioned on src once, each iteration one edge⨝rank join +
    one combinable groupBy)."""
    from mdio_python_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_from_sets(
        shingle_sets_arrow(docs, n=3, unit="word", minhashes=8, emit_sets=False),
        num_hashes=8,
    )
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(pairs.select("doc_b", "doc_a"))
    pr = pagerank(edges, iters=3)
    return pr.select(F.col("id").alias("doc_id"), F.col("r").alias("pagerank"))


def _cms_oracle() -> str:
    from mdio_python_spark.operators.stats import sql_countmin_ctes

    stream = f"SELECT unnest({_TOKS}) AS token FROM documents"
    return f"""
    WITH exact AS (
      SELECT token, COUNT(*) AS n_exact
      FROM ({stream}) GROUP BY token
      ORDER BY n_exact DESC, token LIMIT 20
    ),
    {sql_countmin_ctes(stream, "exact", "token")}
    SELECT e.token, e.n_exact, c.cms_estimate
    FROM exact e JOIN cms_est c ON c.token = e.token
    """


@register("countmin_heavy_hitters", _cms_oracle())
def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with a count-min sketch: the 20 most frequent corpus
    tokens (exact, TakeOrdered) side-by-side with their sketch estimates
    (``stats.countmin_cells`` / ``countmin_lookup``). All-integer
    arithmetic makes the sketch estimate itself pass the exact-equality
    cross-engine gate — the deterministic-sketch family twin of
    ``approx_distinct_hll``. CMS guarantees estimate >= true count; at
    100 TB the 4096-cell table is the only state that crosses tasks."""
    from mdio_python_spark.operators.stats import countmin_cells, countmin_lookup

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token")
    )
    cells = countmin_cells(toks, "token")
    # the exact top-20 is 20 rows but its lineage is a corpus-sized
    # aggregate, and it feeds BOTH the sketch probe and the final join —
    # persist so that aggregate runs once (AQE identical-subtree reuse is
    # not reliable; same policy as the curation funnel)
    exact = persist(
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.col("n_exact").desc(), "token")
        .limit(20)
    )
    est = countmin_lookup(exact.select("token"), cells, "token")
    result = exact.join(F.broadcast(est), "token").select(
        "token", "n_exact", "cms_estimate"
    )
    return own(result, "llm.countmin_heavy_hitters", exact)


def _digest_oracle() -> str:
    from mdio_python_spark.operators.stats import sql_table_digest

    return sql_table_digest(
        "(SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5 "
        "FROM documents)",
        ["doc_id", "lang", "source", "n_chars", "text_md5"],
    )


@register("corpus_digest", _digest_oracle())
def q_corpus_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy digest of the documents table: 64 buckets of
    (count, XOR-of-row-hashes) that reconcile two corpus versions by
    comparing 64 tiny rows instead of re-reading 100 TB twice
    (``stats.table_digest``). Text folds in as md5 so row hashing never
    concatenates full documents."""
    from mdio_python_spark.operators.stats import table_digest

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars",
        F.md5(F.col("text")).alias("text_md5"),
    )
    return table_digest(docs, ["doc_id", "lang", "source", "n_chars", "text_md5"])


def _bloom_oracle() -> str:
    from mdio_python_spark.operators.stats import sql_bloom_ctes

    build = "SELECT DISTINCT md5(text) AS item FROM documents WHERE doc_id % 2 = 0"
    ctes = sql_bloom_ctes(build, "probe_items", "item")
    return f"""
    WITH probe_items AS (SELECT DISTINCT md5(text) AS item FROM documents),
    members AS ({build}),
    {ctes.lstrip()}
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(p.maybe_present) AS BIGINT) AS n_maybe,
           CAST(SUM(CASE WHEN m.item IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_true_present,
           CAST(SUM(CASE WHEN p.maybe_present = 1 AND m.item IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive,
           CAST(SUM(CASE WHEN p.maybe_present = 0 AND m.item IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negative
    FROM bloom_probe p LEFT JOIN members m ON m.item = p.item
    """


@register("bloom_filter_probe", _bloom_oracle())
def q_bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sweep (``stats.bloom_build`` /
    ``bloom_probe``): index the even-keyed half of the corpus by content
    hash, probe EVERY distinct content hash, and report the confusion
    counts — n_false_negative must be 0 by construction (the filter's
    one-sided guarantee, visible to the driver as data). The deployment
    shape this models: a 1024-word broadcast filter standing in front of
    an expensive exact-membership join (e.g. "was this page in the last
    crawl?"); at 100 TB the words table is still <= 8 KiB and the probe
    is a map-only pass. Like the HLL/CMS/digest family, all state is
    integer under order-free reductions, so even the false-positive
    count is bit-identical cross-engine."""
    from mdio_python_spark.operators.stats import bloom_build, bloom_probe

    docs = load_table(spark, sf_dir, "documents")
    # the distinct member set feeds BOTH the word build and the truth
    # join; persist so the corpus distinct runs once (same policy as the
    # countmin exact branch — AQE subtree reuse is not reliable here)
    build = persist(
        docs.where(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("item"))
        .distinct()
    )
    probes = docs.select(F.md5("text").alias("item")).distinct()
    words = bloom_build(build, "item")
    maybe = bloom_probe(probes, words, "item")
    truth = build.withColumn("_member", F.lit(1))
    joined = maybe.join(F.broadcast(truth), "item", "left")
    member = F.coalesce(F.col("_member"), F.lit(0))
    out = joined.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum("maybe_present").cast("long").alias("n_maybe"),
        F.sum(member).cast("long").alias("n_true_present"),
        F.sum(
            F.when((F.col("maybe_present") == 1) & (member == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_positive"),
        F.sum(
            F.when((F.col("maybe_present") == 0) & (member == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_negative"),
    )
    return own(out, "llm.bloom_filter_probe", build)


def _length_sketch_oracle() -> str:
    from mdio_python_spark.operators.stats import sql_histogram_quantiles

    return sql_histogram_quantiles("documents", ["lang"], "n_chars", 64)


@register("length_quantile_sketch", _length_sketch_oracle())
def q_length_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles of document length per language — the
    registered SCALE path beside the exact audit form
    (``quality_percentile_bands``): the corpus collapses to a
    |bins|-per-lang histogram in ONE combinable aggregate; quantiles are
    bin floors, guaranteed within 64 chars below the exact discrete
    quantile. The monitoring form a 100-TB pipeline runs hourly, with
    the exact form reserved for audits (VERDICT r4 item 1's
    register-the-approx-path half)."""
    from mdio_python_spark.operators.stats import histogram_quantiles

    docs = load_table(spark, sf_dir, "documents")
    return histogram_quantiles(docs, ["lang"], "n_chars", 64)


@register(
    "length_histogram",
    """
    SELECT lang,
           CAST(least(n_chars // 100, 19) AS BIGINT) AS bucket,
           CAST(least(n_chars // 100, 19) * 100 AS BIGINT) AS bucket_lo,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY lang, bucket, bucket_lo
    """,
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width document-length histogram per language (100-char
    buckets, top bucket open-ended): the distribution view behind the
    quartile bands. Pure integer bucket math + one combinable groupBy —
    the exact histogram shape statsV1 leaves as a placeholder
    (reference ``src/mdio/builder/schemas/v1/stats.py``: histogram
    field), realized as a first-class query."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.least(F.expr("n_chars div 100"), F.lit(19)).cast("long")
    return (
        docs.groupBy(
            "lang",
            bucket.alias("bucket"),
            (bucket * 100).cast("long").alias("bucket_lo"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "collocation_strength",
    f"""
    WITH {_BIGRAMS_CTE},
    uni AS (SELECT unnest({_TOKS}) AS token FROM documents),
    uni_counts AS (SELECT token, COUNT(*) AS n_tok FROM uni GROUP BY token),
    totals AS (
      SELECT (SELECT COUNT(*) FROM uni) AS n_uni,
             (SELECT COUNT(*) FROM bigrams) AS n_bi
    ),
    counted AS (SELECT bigram, COUNT(*) AS n_ab FROM bigrams GROUP BY bigram),
    top AS (
      SELECT bigram, n_ab FROM (
        SELECT *, ROW_NUMBER() OVER (ORDER BY n_ab DESC, bigram) AS rk
        FROM counted
      ) WHERE rk <= 20
    )
    SELECT t.bigram, t.n_ab, a.n_tok AS n_left, b.n_tok AS n_right,
           CAST(t.n_ab AS DOUBLE) * n_uni / a.n_tok * n_uni / b.n_tok / n_bi
             AS lift
    FROM top t
    JOIN uni_counts a ON a.token = split_part(t.bigram, ' ', 1)
    JOIN uni_counts b ON b.token = split_part(t.bigram, ' ', 2)
    CROSS JOIN totals
    """,
)
def q_collocation_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: lift = p(ab) / (p(a)p(b)) for the top-20
    bigrams — the PMI family's ratio form, kept as a ratio so no
    engine-side log is needed (integer counts, one fixed-order double
    chain; lift >> 1 = a genuine collocation, ~1 = words that co-occur
    by chance). Scale shape: two combinable counts over corpus-sized
    explodes; the lift join probes the unigram table with a broadcast
    20-row side; totals are 1-row broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    bi = dedup.word_shingles(docs, n=2, distinct=False).withColumnRenamed(
        "shingle", "bigram"
    )
    uni = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token")
    )
    uni_counts = uni.groupBy("token").agg(F.count(F.lit(1)).alias("n_tok"))
    totals = uni.agg(F.count(F.lit(1)).alias("n_uni")).crossJoin(
        bi.agg(F.count(F.lit(1)).alias("n_bi"))
    )
    counted = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("n_ab"))
    # orderBy().limit() compiles to TakeOrderedAndProject (per-task local
    # top-k) — a partitionless row_number window would funnel the whole
    # vocab-sized count table through one task
    top = (
        counted.orderBy(F.col("n_ab").desc(), "bigram")
        .limit(20)
        .select("bigram", "n_ab")
    )
    a = uni_counts.select(
        F.col("token").alias("_ta"), F.col("n_tok").alias("n_left")
    )
    b = uni_counts.select(
        F.col("token").alias("_tb"), F.col("n_tok").alias("n_right")
    )
    # probe the corpus-vocab-sized unigram table twice, each time with
    # the <=20-row accumulated side broadcast — never the vocab table
    left_joined = a.join(
        F.broadcast(top), F.col("_ta") == F.split("bigram", " ")[0]
    )
    j = b.join(
        F.broadcast(left_joined),
        F.col("_tb") == F.split(F.col("bigram"), " ")[1],
    ).crossJoin(F.broadcast(totals))
    lift = (
        F.col("n_ab").cast("double")
        * F.col("n_uni")
        / F.col("n_left")
        * F.col("n_uni")
        / F.col("n_right")
        / F.col("n_bi")
    )
    return j.select("bigram", "n_ab", "n_left", "n_right", lift.alias("lift"))


@register(
    "embedding_centroid_outliers",
    """
    WITH dims AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim,
             CAST(CAST(SUM(CAST(CAST(val AS VARCHAR) AS DECIMAL(28,20)))
                       AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS mean_val
      FROM dims GROUP BY label, dim
    ),
    dists AS (
      SELECT d.vec_id, d.label,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list((d.val - c.mean_val) * (d.val - c.mean_val)
                    ORDER BY d.dim)), (x, y) -> x + y) AS dist_sq
      FROM dims d JOIN cent c ON c.label = d.label AND c.dim = d.dim
      GROUP BY d.vec_id, d.label
    )
    SELECT label, vec_id, dist_sq, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY label
                 ORDER BY dist_sq DESC, vec_id) AS INT) AS rank
      FROM dists
    ) WHERE rank <= 5
    """,
)
def q_embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding quality control: per label, the 5 vectors farthest
    (squared L2) from their label's exact centroid — the standard
    mislabeled-sample / contamination sweep over an embedded dataset.
    Determinism: per-dim centroid means use exact decimal sums (the
    double->decimal cast goes through the value's shortest string in
    BOTH engines — DuckDB's native cast multiplies in double and lands
    ulps away from Spark's BigDecimal.valueOf); per-vector squared
    deviations fold in dim order (the ``_sql_l2sq`` left-fold contract —
    dim-bounded, so the collect is 64 structs/vector). Scale shape: one
    posexplode feeding a combinable (label, dim) agg — the centroid
    table is |labels| x dim, broadcast back — and a combinable per-vec
    rollup; top-5 runs per label over the tiny distance table."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim0", "valf"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("valf").cast("double").alias("val"),
    )
    cent = dims.groupBy("label", "dim").agg(
        (
            F.sum(F.col("val").cast("decimal(28,20)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_val")
    )
    diff = F.col("val") - F.col("mean_val")
    dists = (
        dims.join(F.broadcast(cent), ["label", "dim"])
        .select("vec_id", "label", "dim", (diff * diff).alias("sq"))
        .groupBy("vec_id", "label")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "sq"))),
                    lambda x: x["sq"],
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("dist_sq")
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("dist_sq").desc(), "vec_id")
    return (
        dists.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
        .select("label", "vec_id", "dist_sq", "rank")
    )


@register(
    "length_mad_outliers",
    """
    WITH ranked AS (
      SELECT lang, n_chars, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
               AS rn
      FROM documents
    ),
    counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    med AS (
      SELECT r.lang, r.n_chars AS median_chars
      FROM ranked r JOIN counts c ON c.lang = r.lang
      WHERE r.rn = (c.n + 1) // 2
    ),
    dev AS (
      SELECT d.lang, d.doc_id, abs(d.n_chars - m.median_chars) AS adev,
             m.median_chars
      FROM documents d JOIN med m ON m.lang = d.lang
    ),
    dev_ranked AS (
      SELECT lang, adev, median_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY adev, doc_id) AS rn
      FROM dev
    ),
    mad AS (
      SELECT r.lang, r.median_chars, r.adev AS mad_chars
      FROM dev_ranked r JOIN counts c ON c.lang = r.lang
      WHERE r.rn = (c.n + 1) // 2
    )
    SELECT d.lang, m.median_chars, m.mad_chars,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN abs(d.n_chars - m.median_chars)
                              > 3 * m.mad_chars THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM documents d JOIN mad m ON m.lang = d.lang
    GROUP BY d.lang, m.median_chars, m.mad_chars
    """,
)
def q_length_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per language: median / MAD (median
    absolute deviation) of document length and the count of docs beyond
    3 MADs — the robust-statistics alternative to the z-score (immune to
    the outliers it hunts). ALL-INTEGER: both medians are exact
    lower-median ranks, deviations and the 3-MAD threshold are integer
    arithmetic — nothing floats, so cross-engine equality is structural.
    Scale shape (round 5): both median ranks come from
    ``ranking.group_ranked`` (range-partitioned two-phase ordinal) — a
    lang-partitioned ``row_number`` window would sort the whole corpus
    through |lang| ≈ 5 tasks regardless of cluster size. The median/MAD
    tables are |lang| rows, broadcast back."""
    from mdio_python_spark.operators.ranking import group_ranked

    docs = load_table(spark, sf_dir, "documents").select("lang", "n_chars", "doc_id")
    med = (
        group_ranked(
            docs,
            ["lang"],
            ["n_chars", "doc_id"],
            scope="llm.length_mad.median",
        )
        .where(F.col("_rn") == F.expr("(_n + 1) div 2"))
        .select("lang", F.col("n_chars").alias("median_chars"))
    )
    dev = docs.join(F.broadcast(med), "lang").select(
        "lang",
        "doc_id",
        "median_chars",
        F.abs(F.col("n_chars") - F.col("median_chars")).alias("adev"),
    )
    mad = (
        group_ranked(
            dev,
            ["lang"],
            ["adev", "doc_id"],
            scope="llm.length_mad.mad",
        )
        .where(F.col("_rn") == F.expr("(_n + 1) div 2"))
        .select("lang", "median_chars", F.col("adev").alias("mad_chars"))
    )
    return (
        docs.join(F.broadcast(mad), "lang")
        .groupBy("lang", "median_chars", "mad_chars")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.abs(F.col("n_chars") - F.col("median_chars"))
                    > 3 * F.col("mad_chars"),
                    1,
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Round 5: substring windows, cross-source dup matrix, SemDeDup, ANN curve
# ---------------------------------------------------------------------------


@register(
    "substring_dup_windows",
    f"""
    WITH toked AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    wins AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tk) >= 8
                    THEN list_transform(
                           generate_series(1, len(tk) - 7),
                           i -> array_to_string(list_slice(tk, i, i + 7), ' '))
                    ELSE [] END) AS win
      FROM toked
    ),
    win_freq AS (
      SELECT win, COUNT(DISTINCT doc_id) AS n_docs FROM wins GROUP BY win
    )
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_windows,
           CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_ratio
    FROM wins w JOIN win_freq f ON f.win = w.win
    GROUP BY w.doc_id
    """,
)
def q_substring_dup_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window substring-dup fraction per document (Lee et al.
    2022's suffix-array dedup signal, re-expressed as stride-1 8-token
    window hashing): catches copied spans at ANY alignment, where the
    flat segment filter (segment_dedup_stats) only sees
    boundary-aligned duplication. O(total tokens) 16-byte rows, three
    bounded combinable exchanges, never pairwise
    (operators/dedup.py:window_dup_stats)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.window_dup_stats(docs, window_tokens=8)


@register(
    "cross_source_dup_matrix",
    f"""
    WITH {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE}, {_PAIR_JACCARD_CTES},
    verified AS (
      SELECT doc_a, doc_b FROM pair_jaccard WHERE jaccard >= 0.5
    )
    SELECT LEAST(da.source, db.source) AS source_a,
           GREATEST(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM verified v
    JOIN documents da ON da.doc_id = v.doc_a
    JOIN documents db ON db.doc_id = v.doc_b
    GROUP BY LEAST(da.source, db.source), GREATEST(da.source, db.source)
    """,
    eager=True,
)
def q_cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Who copies from whom: verified near-dup pairs (the near_dup_jaccard
    DAG at 0.5) rolled up to a symmetric source x source matrix — the
    provenance QC a curation team reads before deciding which feed to
    drop. The matrix rollup adds two doc_id-co-partitioned hash joins
    (pairs side is LSH-bounded, tiny vs corpus) and one combinable
    groupBy on top of the shared near-dup pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    sets = _word_shingle_sets(docs)
    sig = dedup.minhash_signatures_from_sets(sets, num_hashes=8)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    verified = dedup.jaccard_pairs_arrays(
        pairs, None, min_jaccard=0.5, sets=sets
    ).where(F.col("jaccard") >= 0.5)
    src = docs.select("doc_id", "source")
    m = verified.join(
        src.withColumnsRenamed({"doc_id": "doc_a", "source": "_sa"}), "doc_a"
    ).join(src.withColumnsRenamed({"doc_id": "doc_b", "source": "_sb"}), "doc_b")
    out = (
        m.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    return own(out, "cross_source_dup_matrix", sets)


_SEMDEDUP_ORACLE = f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cent_vec FROM embeddings WHERE vec_id < 16
),
assign AS (
  SELECT vec_id, embedding, CAST(cid AS BIGINT) AS cell
  FROM embeddings, cent
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id
    ORDER BY {_IVF_COS.format(a="embedding", b="cent_vec")} DESC, cid) = 1
),
members AS (
  SELECT vec_id, embedding, cell,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
  FROM assign
),
verified AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM members a JOIN members b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
   AND a.rn <= 1024 AND b.rn <= 1024
  WHERE {_IVF_COS.format(a="a.embedding", b="b.embedding")} >= 0.3
)
SELECT vec_b AS drop_id, MIN(vec_a) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_near_dups
FROM verified GROUP BY vec_b
"""


@register("semantic_dedup_drops", _SEMDEDUP_ORACLE)
def q_semantic_dedup_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding dedup scoped to k-means
    cells instead of sign buckets — the data-DEPENDENT near-dup path
    (cells follow corpus density, so close pairs co-bucket at much
    higher recall per candidate). Assignment is the ivf_topk literal-
    centroid argmax projection (no corpus shuffle); pairs meet only
    within a cell under the deterministic hot-cell cap; cosine verify is
    exact (operators/similarity.py:semantic_dedup_drops). Round 8:
    executes on the Arrow kernels (vector_arrow.semantic_dedup_arrow —
    strategy-only, bit-identical, tests/test_vector_arrow.py; oracle
    unchanged)."""
    from mdio_python_spark.operators import vector_arrow

    return vector_arrow.semantic_dedup_arrow(
        load_table(spark, sf_dir, "embeddings"), threshold=0.3, n_centroids=16
    )


def _recall_curve_oracle(probes: tuple[int, ...] = (1, 2, 4, 8)) -> str:
    """Per-nprobe aggregate recall vs the shared exact top-10 — the
    _RECALL_ORACLE assignment/exact CTEs, one probe/ivf/agg leg per
    nprobe, UNION ALL of the per-leg 1-row aggregates."""
    exact_cos = (
        f"{_DOT.format(a='q_vec', b='c_vec')}"
        f" / (sqrt({_DOT.format(a='q_vec', b='q_vec')})"
        f" * sqrt({_DOT.format(a='c_vec', b='c_vec')}))"
    )
    legs = []
    for p in probes:
        legs.append(f"""
probes_{p} AS (
  SELECT q.vec_id AS query_id, q.embedding AS q_vec, CAST(cid AS BIGINT) AS cell
  FROM embeddings q, cent
  WHERE q.vec_id < 50
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY q.vec_id
    ORDER BY {_IVF_COS.format(a="q.embedding", b="cent_vec")} DESC, cid) <= {p}
),
ivf_topk_{p} AS (
  SELECT query_id, candidate_id FROM (
    SELECT p.query_id, a.vec_id AS candidate_id,
           ROW_NUMBER() OVER (
             PARTITION BY p.query_id
             ORDER BY {_IVF_COS.format(a="p.q_vec", b="a.embedding")} DESC,
                      a.vec_id) AS rnk
    FROM assign a JOIN probes_{p} p ON a.cell = p.cell
    WHERE p.query_id <> a.vec_id
  ) WHERE rnk <= 10
),
agg_{p} AS (
  SELECT CAST({p} AS BIGINT) AS nprobe,
         CAST(COUNT(*) AS BIGINT) AS n_exact,
         CAST(SUM(CASE WHEN i.candidate_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits,
         CAST(SUM(CASE WHEN i.candidate_id IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
  FROM exact_topk e
  LEFT JOIN ivf_topk_{p} i
    ON i.query_id = e.query_id AND i.candidate_id = e.candidate_id
)""")
    union = "\nUNION ALL\n".join(f"SELECT * FROM agg_{p}" for p in probes)
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cent_vec FROM embeddings WHERE vec_id < 16
),
assign AS (
  SELECT vec_id, embedding, CAST(cid AS BIGINT) AS cell
  FROM embeddings, cent
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id
    ORDER BY {_IVF_COS.format(a="embedding", b="cent_vec")} DESC, cid) = 1
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 50
),
c AS (SELECT vec_id AS candidate_id, embedding AS c_vec FROM embeddings),
exact_scored AS (
  SELECT query_id, candidate_id, {exact_cos} AS cosine
  FROM c CROSS JOIN q WHERE query_id <> candidate_id
),
exact_topk AS (
  SELECT query_id, candidate_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, candidate_id) AS rnk
    FROM exact_scored
  ) WHERE rnk <= 10
),{",".join(legs)}
{union}
"""


@register("ann_tuning_curve", _recall_curve_oracle(), eager=True)
def q_ann_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall-vs-nprobe tuning curve ann_recall_at_k is one point of:
    aggregate recall@10 of the IVF index at nprobe in {1,2,4,8} against
    the ONE shared exact top-10 baseline — the curve an ANN deployment
    is actually tuned by (pick the knee).

    Round 9 (VERDICT r8 item 5): the whole curve is ONE declarative
    pipeline (similarity.ivf_recall_curve) — the nprobe legs are nested
    prefixes of one probe order and the exact baseline is the
    p = n_centroids limit, so a single leg-tagged query-side explode +
    one broadcast cell join + one (leg, query) rank window computes
    truth and all four configurations in one corpus pass. The previous
    shape persisted the truth but re-derived the candidate assignment
    and ran a probe-join + window + aggregate chain per configuration
    (8 bounded SinglePartition joins, serial AQE stages). No persist,
    no cache, same numbers (shared expression trees; tie order and
    NaN-first DESC semantics unchanged), same oracle.

    Round 10: every leg's local top-k runs in one vectorized Arrow map
    pass over the corpus (vector_arrow.ivf_recall_local_topk,
    bit-identical rows) — the leg-exploded broadcast cell join of
    interpreted zip_with folds is gone. Eager: construction collects
    the bounded query sample."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 50)
    return similarity.ivf_recall_curve(
        queries, emb, k=10, n_centroids=16, probes=(1, 2, 4, 8)
    )


# ---------------------------------------------------------------------------
# Round 5: distributed BPE tokenizer training (Sennrich et al., ACL 2016)
# ---------------------------------------------------------------------------

_BPE_SEP = "chr(31)"
_BPE_SEP2 = "concat(chr(31), chr(31))"


def _bpe_chain_ctes(n_steps: int) -> str:
    """CTE chain mirroring operators/bpe.py: word counts -> doubled-
    separator symbolization -> per-step (pair counts, argmax, replace).
    The replace overlap semantics and codepoint symbolization are
    bit-verified identical across engines (see bpe.py docstring)."""
    parts = [
        f"""bpe_toked AS (SELECT {_TOKS} AS tk FROM documents),
    bpe_words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest(tk) AS word FROM bpe_toked)
      WHERE word <> '' GROUP BY word
    ),
    bpe_sym_0 AS (
      SELECT word,
             concat(regexp_replace(word, '(.)',
                                   concat(chr(31), '\\1', chr(31)), 'g'),
                    chr(31), '</w>', chr(31)) AS sym,
             n
      FROM bpe_words
    )"""
    ]
    for k in range(n_steps):
        parts.append(f"""bpe_pc_{k} AS (
      SELECT l AS "left", r AS "right", CAST(SUM(n) AS BIGINT) AS pair_n
      FROM (
        SELECT unnest(list_slice(sy, 1, len(sy) - 1)) AS l,
               unnest(list_slice(sy, 2, len(sy))) AS r, n
        FROM (SELECT string_split(trim(sym, chr(31)), {_BPE_SEP2}) AS sy, n
              FROM bpe_sym_{k})
      ) GROUP BY l, r
    ),
    bpe_tp_{k} AS (
      SELECT "left", "right", pair_n FROM bpe_pc_{k}
      ORDER BY pair_n DESC, "left", "right" LIMIT 1
    ),
    bpe_sym_{k + 1} AS (
      SELECT word,
             replace(sym,
                     concat(chr(31), "left", {_BPE_SEP2}, "right", chr(31)),
                     concat(chr(31), "left", "right", chr(31))) AS sym,
             n
      FROM bpe_sym_{k}, bpe_tp_{k}
    )""")
    return ",\n    ".join(parts)


_BPE_STEPS = 6


@register(
    "bpe_pair_counts",
    f"""
    WITH {_bpe_chain_ctes(0)}
    SELECT "left", "right", pair_n FROM (
      SELECT l AS "left", r AS "right", CAST(SUM(n) AS BIGINT) AS pair_n
      FROM (
        SELECT unnest(list_slice(sy, 1, len(sy) - 1)) AS l,
               unnest(list_slice(sy, 2, len(sy))) AS r, n
        FROM (SELECT string_split(trim(sym, chr(31)), {_BPE_SEP2}) AS sy, n
              FROM bpe_sym_0)
      ) GROUP BY l, r
    ) ORDER BY pair_n DESC, "left", "right" LIMIT 20
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE trainer step-0 statistics: the top-20 adjacent symbol pairs
    over the initial character symbolization, weighted by word count.
    The corpus is touched ONCE (combinable word-count groupBy); pair
    explosion runs on the vocabulary table, bounded by distinct words x
    word length, and the top-20 is a TakeOrdered — never a global
    window (operators/bpe.py)."""
    from mdio_python_spark.operators import bpe

    wc = bpe.word_counts(load_table(spark, sf_dir, "documents"))
    vocab = wc.select(bpe.symbolize(F.col("word")).alias("sym"), "n")
    return (
        bpe.pair_counts(vocab)
        .orderBy(F.col("pair_n").desc(), "left", "right")
        .limit(20)
    )


@register(
    "bpe_train_merges",
    f"""
    WITH {_bpe_chain_ctes(_BPE_STEPS)}
    {" UNION ALL ".join(
        f'SELECT CAST({k} AS BIGINT) AS step, "left", "right", pair_n '
        f"FROM bpe_tp_{k}"
        for k in range(_BPE_STEPS)
    )}
    """,
    eager=True,
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed BPE trainer itself: 6 merge steps, each = one
    map-side-combinable pair-count aggregate over the (persisted)
    vocabulary + a 1-row argmax broadcast + a boundary-anchored literal
    string replace — ONE lazy plan, zero driver round trips, no UDFs.
    On a 1000-executor cluster the whole fit is M bounded shuffles of
    the vocab table; the corpus is read exactly once
    (operators/bpe.py:train_merges)."""
    from mdio_python_spark.operators import bpe

    wc = bpe.word_counts(load_table(spark, sf_dir, "documents"))
    merges, _final = bpe.train_merges(wc, _BPE_STEPS, scope="llm.bpe_train")
    return merges


@register(
    "bpe_tokenized_docs",
    f"""
    WITH {_bpe_chain_ctes(_BPE_STEPS)},
    bpe_occurrences AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(tk) AS word
        FROM (SELECT doc_id, {_TOKS} AS tk FROM documents)
      ) WHERE word <> ''
    ),
    bpe_final_counts AS (
      SELECT word,
             (length(sym) - length(replace(sym, {_BPE_SEP2}, ''))) // 2 + 1 AS k
      FROM bpe_sym_{_BPE_STEPS}
    )
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(c.k) AS BIGINT) AS n_bpe_tokens
    FROM bpe_occurrences o JOIN bpe_final_counts c USING (word)
    GROUP BY o.doc_id
    """,
    eager=True,
)
def q_bpe_tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-apply end to end: tokenize the corpus with the 6
    freshly trained merges and report per-document whitespace-word vs
    BPE-symbol counts — the sizing pass that budgets sequence lengths
    before packing. The apply side joins token occurrences to the
    trained vocabulary's symbol counts (vocab-bounded build side); the
    rollup is combinable (operators/bpe.py)."""
    from mdio_python_spark.operators import bpe
    from mdio_python_spark.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    wc = bpe.word_counts(docs)
    _merges, final = bpe.train_merges(wc, _BPE_STEPS, scope="llm.bpe_apply")
    occ = docs.select(
        "doc_id",
        F.explode(_tokens(F.lower(F.trim(F.col("text"))))).alias("word"),
    ).where(F.col("word") != "")
    counts = final.select("word", bpe.sym_count(F.col("sym")).alias("_k"))
    return (
        occ.join(counts, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_k").alias("n_bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus scoring: bigram LM predictability, DSIR importance, diversity,
# n-gram novelty
# ---------------------------------------------------------------------------


@register(
    "bigram_lm_score",
    f"""
    WITH {_BIGRAMS_CTE},
    dbc AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bigrams GROUP BY 1, 2),
    bcnt AS (SELECT bigram, CAST(SUM(c) AS BIGINT) AS n_big
             FROM dbc GROUP BY bigram),
    pcnt AS (SELECT split_part(bigram, ' ', 1) AS w1,
                    CAST(SUM(n_big) AS BIGINT) AS n_pre
             FROM bcnt GROUP BY 1),
    cond AS (SELECT b.bigram,
                    CAST(b.n_big AS DOUBLE) / CAST(p.n_pre AS DOUBLE) AS p
             FROM bcnt b JOIN pcnt p ON split_part(b.bigram, ' ', 1) = p.w1)
    SELECT d.doc_id,
           CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
           CAST(CAST(SUM(CAST(co.p AS DECIMAL(18,8))
                         * CAST(d.c AS DECIMAL(10,0))) AS VARCHAR) AS DOUBLE)
             / CAST(SUM(d.c) AS BIGINT) AS lm_score
    FROM dbc d JOIN cond co USING (bigram)
    GROUP BY d.doc_id
    """,
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document predictability under a corpus-trained bigram LM — the
    log-free analog of CCNet's KenLM perplexity filter (Wenzek et al.,
    LREC 2020). Vocab-sized model tables, one persisted per-doc count
    stage feeding both model build and scoring join
    (operators/text.py:bigram_lm_scores)."""
    return text.bigram_lm_scores(load_table(spark, sf_dir, "documents"))


@register(
    "importance_weights_dsir",
    f"""
    WITH {_BIGRAMS_CTE},
    g AS (SELECT doc_id, {sql_hash64("bigram")} % 1024 AS bucket, COUNT(*) AS c
          FROM bigrams GROUP BY 1, 2),
    ge AS (SELECT *, {_EVAL_HASH} % 20 = 0 AS is_eval FROM g),
    t AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS t_cnt
          FROM ge WHERE is_eval GROUP BY bucket),
    r AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS r_cnt
          FROM ge WHERE NOT is_eval GROUP BY bucket),
    ratios AS (
      SELECT COALESCE(t.bucket, r.bucket) AS bucket,
             CAST(COALESCE(t_cnt, 0) + 1 AS DOUBLE)
               / CAST(COALESCE(r_cnt, 0) + 1 AS DOUBLE) AS ratio
      FROM t FULL JOIN r ON t.bucket = r.bucket)
    SELECT ge.doc_id,
           CAST(SUM(ge.c) AS BIGINT) AS n_grams,
           CAST(CAST(SUM(CAST(ra.ratio AS DECIMAL(18,8))
                         * CAST(ge.c AS DECIMAL(10,0))) AS VARCHAR) AS DOUBLE)
             / CAST(SUM(ge.c) AS BIGINT) AS dsir_weight
    FROM ge JOIN ratios ra USING (bucket)
    WHERE NOT ge.is_eval
    GROUP BY ge.doc_id
    """,
)
def q_importance_weights_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-ngram importance weights (Xie et al., NeurIPS 2023):
    tilt the raw corpus toward the held-out target split by add-one-
    smoothed bucket ratios. 1024-row ratio table broadcasts; one persisted
    (doc, bucket) count stage serves all three consumers
    (operators/curation.py:dsir_importance_weights)."""
    return curation.dsir_importance_weights(load_table(spark, sf_dir, "documents"))


@register(
    "vocab_diversity_by_source",
    f"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS token FROM documents),
    counts AS (SELECT source, token, COUNT(*) AS c FROM tok GROUP BY 1, 2)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS type_token_ratio,
           1.0E0 - CAST(CAST(SUM(CAST(CAST(c AS DECIMAL(19,0))
                                      * CAST(c AS DECIMAL(19,0)) AS DECIMAL(38,0)))
                        AS VARCHAR) AS DOUBLE)
                 / (CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE))
             AS simpson_index
    FROM counts
    GROUP BY source
    """,
)
def q_vocab_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source: type-token ratio + Simpson index
    (the transcendental-free entropy stand-in) — collapsed diversity
    flags a scraper stuck on one template. Two chained combinable
    groupBys, no joins (operators/text.py:vocab_diversity)."""
    return text.vocab_diversity(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_novelty_score",
    f"""
    WITH toked AS (SELECT doc_id, {_TOKS} AS tk FROM documents),
    wins AS (
      SELECT DISTINCT doc_id,
             unnest(CASE WHEN len(tk) >= 8
                    THEN list_transform(
                           generate_series(1, len(tk) - 7),
                           i -> array_to_string(list_slice(tk, i, i + 7), ' '))
                    ELSE [] END) AS gram
      FROM toked
    ),
    first_seen AS (SELECT gram, MIN(doc_id) AS first_doc
                   FROM wins GROUP BY gram)
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = w.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = w.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS novelty_frac
    FROM wins w JOIN first_seen f ON f.gram = w.gram
    GROUP BY w.doc_id
    """,
)
def q_ngram_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence novelty per document: fraction of its distinct
    8-grams no earlier (lower-id) doc contains — the corpus-order bulk-
    duplication signal of Lee et al. (ACL 2022), via two combinable
    passes over one shared repartition(gh) exchange instead of suffix
    arrays (operators/dedup.py:ngram_novelty)."""
    return dedup.ngram_novelty(load_table(spark, sf_dir, "documents"), n=8)


# ---------------------------------------------------------------------------
# LSH tuning curve: precision/recall of every band configuration
# ---------------------------------------------------------------------------

from mdio_python_spark.operators.dedup import DEFAULT_MAX_BUCKET_SIZE


def _curve_pairs_cte(r: int) -> str:
    """CTEs ``bands_{r}`` / ``cand_{r}``: banded 8-hash signature and
    capped distinct candidate pairs for rows_per_band = r, mirroring
    dedup.lsh_candidate_pairs + bucket_pairs (sorted-id cap)."""
    selects = []
    for band in range(8 // r):
        cols = ", ".join(f"CAST(mh_{band * r + k} AS VARCHAR)" for k in range(r))
        concat = "concat_ws('_', " + cols + ")"
        selects.append(
            f"SELECT doc_id, {band} AS band_id, "
            f"{sql_hash64(concat)} AS band_hash FROM signatures"
        )
    union = " UNION ALL ".join(selects)
    cap = DEFAULT_MAX_BUCKET_SIZE
    return f"""
  bands_{r} AS ({union}),
  capped_{r} AS (
    SELECT doc_id, band_id, band_hash,
           ROW_NUMBER() OVER (PARTITION BY band_id, band_hash
                              ORDER BY doc_id) AS rn
    FROM bands_{r}
  ),
  cand_{r} AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM capped_{r} a
    JOIN capped_{r} b
      ON a.band_id = b.band_id AND a.band_hash = b.band_hash
     AND a.doc_id < b.doc_id
     AND a.rn <= {cap} AND b.rn <= {cap}
  )"""


def _curve_leg_sql(r: int) -> str:
    hit = "COALESCE(SUM(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END), 0)"
    return f"""
    SELECT CAST({8 // r} AS BIGINT) AS bands,
           CAST({r} AS BIGINT) AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
           CAST({hit} AS BIGINT) AS n_hit,
           CASE WHEN COUNT(*) = 0 THEN NULL
                ELSE CAST({hit} AS DOUBLE) / CAST(COUNT(*) AS BIGINT)
           END AS precision,
           CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN NULL
                ELSE CAST({hit} AS DOUBLE)
                     / (SELECT CAST(COUNT(*) AS BIGINT) FROM truth)
           END AS recall
    FROM cand_{r} c
    LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b"""


_LSH_CURVE_ORACLE = (
    "WITH "
    + _SHINGLES_CTE
    + ", "
    + _SIGNATURES_CTE
    + ", "
    + ", ".join(_curve_pairs_cte(r).lstrip() for r in (1, 2, 4, 8))
    + """,
  sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingled GROUP BY doc_id),
  inter AS (
    SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
    FROM cand_1 p
    JOIN shingled a ON a.doc_id = p.doc_a
    JOIN shingled b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
    GROUP BY p.doc_a, p.doc_b
  ),
  truth AS (
    SELECT i.doc_a, i.doc_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE)
            / CAST(sa.n_shingles + sb.n_shingles - i.n_common AS DOUBLE) >= 0.5
  )
"""
    + " UNION ALL ".join(_curve_leg_sql(r) for r in (1, 2, 4, 8))
)


@register("lsh_tuning_curve", _LSH_CURVE_ORACLE, eager=True)
def q_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation quality at every band configuration of the
    8-hash MinHash signature — the curve a dedup deployment is tuned by,
    the LSH counterpart of ann_tuning_curve. Truth = verified Jaccard
    >= 0.5 on the (8 bands x 1 row) basis, the completest candidate set
    this signature family can express (every r-row band match implies a
    1-row match, so it contains all other configs' candidates; a J=0.5
    pair escapes it with probability (1-J)^8 <= 0.4%).

    Scale shape (round 9, VERDICT r8 item 5): ONE persisted
    hashed-shingle exchange feeds signatures and both Jaccard-verify
    sides; ONE leg-tagged banding pass (dedup.minhash_band_rows — all 15
    band structs of the four configurations in a single explode over one
    signature subtree) feeds ONE bucket-pair generation whose distinct is
    scoped per leg (bucket_pairs carry_cols), persisted and eagerly
    materialized as the single candidate relation; truth (verified
    Jaccard >= 0.5 on the leg-1 basis, which contains every other leg's
    candidates) is persisted/eager; the final job is one broadcast truth
    join + one groupBy(leg) — four curve rows from one aggregate instead
    of four serial leg pipelines (the round-8 plan audit's 8 bounded
    SinglePartition joins). Eager materialization also closes the cache
    race a lazily persisted truth has under a multi-leg union job.
    Bucket caps are mirrored in the oracle via rn <= cap over sorted
    ids; outputs and oracle unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE home for the leg tuple (ADVICE r9): the banding call and the
    # legs_lit literal frame below must enumerate the SAME configurations
    # — two separate literals could drift and silently emit phantom
    # zero-candidate rows (legs_lit-only) or drop banding legs
    # (banding-only) instead of failing.
    legs = (1, 2, 4, 8)
    # Round 10b: the persisted corpus stage is the per-doc SET-ARRAY
    # table from the Arrow kernel (one shuffle-free vectorized-MD5 map
    # pass) instead of the exploded hashed-shingle rows behind a
    # repartition("doc_id") exchange: signatures derive bit-identically
    # from the arrays and the truth verify joins the same 1-row-per-doc
    # cache (sets=) — the corpus-sized exchange and the two implicit
    # per-side collect_set re-aggregations disappear. Persisted but NOT
    # eager'd: its cache fills as a side effect of cand_all's
    # materialization (same barrier-saving rationale as before —
    # cand_all's own plan is joins-free, so it never consults the
    # stage's size estimate).
    sets = persist(shingle_sets_arrow(docs, n=3, unit="word", minhashes=8))
    sig = dedup.minhash_signatures_from_sets(sets, num_hashes=8)
    banded = dedup.minhash_band_rows(
        sig, num_hashes=8, rows_per_band_legs=legs
    )
    # Round 11: cand_all is persisted but no longer eager()'d — its ONE
    # extra count job is redundant: truth's eager materialization scans
    # cand_all (the leg==1 filter sits ABOVE the InMemoryRelation, so
    # the scan fills every cached partition), and every downstream join
    # against it broadcasts the OTHER side explicitly (truth/agg/
    # n_truth), so no planner decision ever consults cand_all's size
    # estimate. Same relations cached, one fewer serial job in the
    # eager-timed construction window (measured ~0.4 s at sf0.1).
    cand_all = persist(
        dedup.bucket_pairs(
            banded, ["leg", "band_id", "band_hash"], carry_cols=("leg",)
        )
    )
    truth = eager(
        persist(
            dedup.jaccard_pairs_arrays(
                cand_all.where(F.col("leg") == 1).select("doc_a", "doc_b"),
                None,
                min_jaccard=0.5,
                sets=sets,
            )
            .where(F.col("jaccard") >= 0.5)
            .select("doc_a", "doc_b")
            .withColumn("_t", F.lit(1))
        )
    )
    n_truth = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_truth"))
    legs_lit = spark.createDataFrame([(r,) for r in legs], "leg long")
    agg = (
        cand_all.join(F.broadcast(truth), ["doc_a", "doc_b"], "left")
        .groupBy("leg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.coalesce(F.sum("_t"), F.lit(0)).cast("bigint").alias("n_hit"),
        )
    )
    out = (
        legs_lit.join(F.broadcast(agg), "leg", "left")
        .crossJoin(F.broadcast(n_truth))
        .select(
            (F.lit(8) / F.col("leg")).cast("bigint").alias("bands"),
            F.col("leg").cast("bigint").alias("rows_per_band"),
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            "n_truth",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.when(F.coalesce("n_candidates", F.lit(0)) == 0, F.lit(None))
            .otherwise(
                F.col("n_hit").cast("double") / F.col("n_candidates")
            )
            .alias("precision"),
            F.when(F.col("n_truth") == 0, F.lit(None))
            .otherwise(F.col("n_hit").cast("double") / F.col("n_truth"))
            .alias("recall"),
        )
    )
    return own(out, "lsh_tuning_curve", sets, cand_all, truth)


# ---------------------------------------------------------------------------
# Training-order manifest, cluster representatives, cross-modal dup QC
# ---------------------------------------------------------------------------


@register(
    "training_order_manifest",
    f"""
    WITH m AS (
      SELECT doc_id,
             {sql_hash64("'shard' || CAST(doc_id AS VARCHAR)")} % 16 AS shard,
             {sql_hash64("'order' || CAST(doc_id AS VARCHAR)")} AS skey
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey, doc_id)
                AS BIGINT) AS position
    FROM m
    """,
)
def q_training_order_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last step of every training-data pipeline: a deterministic
    epoch-shuffle manifest — each doc lands in one of 16 shards (salted
    id hash) at a pseudorandom position (second salted hash as sort
    key). Readers stream shard files in position order and get a
    reproducible global shuffle with no shuffle service involved.
    Positions come from ranking.group_ranked (range-partitioned ordinal
    + broadcast offsets) — never a per-shard window sort, so 16 shards
    does NOT mean 16-way parallelism at 100 TB."""
    from mdio_python_spark.operators import ranking
    from mdio_python_spark.operators.curation import split_hash

    docs = load_table(spark, sf_dir, "documents")
    m = docs.select(
        "doc_id",
        split_hash(F.col("doc_id"), "shard", 16).alias("shard"),
        hash64(F.concat(F.lit("order"), F.col("doc_id").cast("string"))).alias(
            "skey"
        ),
    )
    ranked = ranking.group_ranked(
        m,
        keys=["shard"],
        order_by=["skey", "doc_id"],
        rank_col="position",
        scope="training_order_manifest",
    )
    return ranked.select(
        "doc_id", "shard", F.col("position").cast("bigint").alias("position")
    )


from mdio_python_spark.operators.scoring import sql_token_weight as _sql_qw


@register(
    "cluster_best_representative",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE}, {_CC_CTES},
    tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM({_sql_qw("token")}) AS BIGINT) AS weight_sum
      FROM tok GROUP BY doc_id
    ),
    scored AS (
      SELECT doc_id,
             CAST(weight_sum AS DOUBLE)
               / (CAST(n_tokens AS DOUBLE) * 50001.0) AS score
      FROM agg
    ),
    m AS (
      SELECT c.cluster_id, c.doc_id, s.score
      FROM clusters c JOIN scored s USING (doc_id)
    ),
    best AS (
      SELECT cluster_id, MAX(score) AS best_score,
             CAST(COUNT(*) AS BIGINT) AS n_members
      FROM m GROUP BY cluster_id
    )
    SELECT b.cluster_id, b.n_members, MIN(m.doc_id) AS best_doc, b.best_score
    FROM best b JOIN m ON m.cluster_id = b.cluster_id AND m.score = b.best_score
    GROUP BY b.cluster_id, b.n_members, b.best_score
    """,
    eager=True,
)
def q_cluster_best_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST-of-cluster dedup: near-dup connected components keep the
    member with the highest quality-model score (min doc_id on exact
    ties) instead of the arbitrary lowest id — what production dedup
    actually ships when a cluster mixes a clean original with mangled
    mirrors. Composition: LSH pairs -> O(log n) connected components ->
    score join -> ONE combinable aggregate (round 11: the argmax is
    max(struct(score, -doc_id)) — score DESC then smallest id — so the
    member subtree is built once; the previous max-then-self-join shape
    recomputed the cc kernel AND the corpus-sized score groupBy twice
    and paid an extra exchange for the join); no windows, no driver
    state."""
    from mdio_python_spark.operators.scoring import model_score

    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_from_sets(
        shingle_sets_arrow(docs, n=3, unit="word", minhashes=8, emit_sets=False),
        num_hashes=8,
    )
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    clusters = dedup.connected_components(pairs, assume_distinct=True)
    scores = model_score(docs).select("doc_id", "score")
    m = clusters.join(scores, "doc_id")
    # max over (score, -doc_id) = the max-score member, ties to the
    # smallest doc_id — identical rows to the old max + equality-join +
    # min(doc_id) chain (scores are finite doubles: the weight sum is a
    # ratio of exact ints, never NaN)
    agg = m.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max(
            F.struct(F.col("score").alias("s"), (-F.col("doc_id")).alias("nd"))
        ).alias("_b"),
    )
    return agg.select(
        "cluster_id",
        "n_members",
        (-F.col("_b").getField("nd")).alias("best_doc"),
        F.col("_b").getField("s").alias("best_score"),
    )


@register(
    "nearpair_embedding_agreement",
    f"""
    WITH {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE}, {_PAIR_JACCARD_CTES},
    verified AS (
      SELECT doc_a, doc_b, jaccard FROM pair_jaccard WHERE jaccard >= 0.5
    )
    SELECT v.doc_a, v.doc_b, v.jaccard,
           {_DOT.format(a="ea.embedding", b="eb.embedding")}
             / (sqrt({_DOT.format(a="ea.embedding", b="ea.embedding")})
                * sqrt({_DOT.format(a="eb.embedding", b="eb.embedding")}))
             AS cosine
    FROM verified v
    JOIN embeddings ea ON ea.vec_id = v.doc_a
    JOIN embeddings eb ON eb.vec_id = v.doc_b
    """,
)
def q_nearpair_embedding_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup QC: for every verified text near-dup pair
    (Jaccard >= 0.5), the cosine of the two docs' embeddings — low
    cosine on a high-Jaccard pair flags a broken embedding run (or
    id misalignment) before SemDeDup trusts it. The pair set is
    LSH-bounded (tiny vs corpus), so the two embedding joins are
    pair-side lookups, not corpus shuffles; cosine is the shared
    left-fold dot product (deterministic evaluation order)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    sets = _word_shingle_sets(docs)
    sig = dedup.minhash_signatures_from_sets(sets, num_hashes=8)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    verified = dedup.jaccard_pairs_arrays(
        pairs, None, min_jaccard=0.5, sets=sets
    ).where(F.col("jaccard") >= 0.5)
    ea = emb.select(F.col("vec_id").alias("doc_a"), F.col("embedding").alias("_va"))
    eb = emb.select(F.col("vec_id").alias("doc_b"), F.col("embedding").alias("_vb"))
    out = (
        verified.join(ea, "doc_a")
        .join(eb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            similarity.cosine(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
    )
    return own(out, "nearpair_embedding_agreement", sets)


# ---------------------------------------------------------------------------
# Corpus QC: quality-model length confound, source vocabulary overlap
# ---------------------------------------------------------------------------

_D38_SQL = "CAST(CAST(SUM(CAST({e} AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)"
_X19 = "CAST(x AS DECIMAL(19,0))"
_Y19 = "CAST(y AS DECIMAL(19,0))"


@register(
    "length_quality_correlation",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    agg AS (
      SELECT doc_id, CAST(SUM({_sql_qw("token")}) AS BIGINT) AS y
      FROM tok GROUP BY doc_id
    ),
    xy AS (
      SELECT d.n_chars AS x, a.y AS y
      FROM documents d JOIN agg a ON a.doc_id = d.doc_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(x AS BIGINT)) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
             {_D38_SQL.format(e=f"{_X19} * {_X19}")} AS sxx,
             {_D38_SQL.format(e=f"{_Y19} * {_Y19}")} AS syy,
             {_D38_SQL.format(e=f"{_X19} * {_Y19}")} AS sxy
      FROM xy
    )
    SELECT n,
           (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_len_quality
    FROM s
    """,
)
def q_length_quality_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the quality model length-confounded? Pearson correlation of
    document length vs the hashed-linear model's raw weight sum — the
    audit run before trusting any score-based keep/drop threshold (a
    strongly length-correlated 'quality' score silently becomes a length
    filter). All five moments accumulate as exact integers/DECIMAL(38,0)
    (order-free, combinable, one shuffle row per partition); the final r
    is a fixed IEEE chain both engines evaluate identically."""
    from mdio_python_spark.operators.scoring import model_score

    docs = load_table(spark, sf_dir, "documents")
    ms = model_score(docs).select("doc_id", F.col("weight_sum").alias("y"))
    xy = docs.select("doc_id", F.col("n_chars").alias("x")).join(ms, "doc_id")

    def d19(c: str):
        return F.col(c).cast("decimal(19,0)")

    def s38(e):
        return F.sum(e.cast("decimal(38,0)")).cast("double")

    agg = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast("bigint")).cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        s38(d19("x") * d19("x")).alias("sxx"),
        s38(d19("y") * d19("y")).alias("syy"),
        s38(d19("x") * d19("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select("n", corr.alias("corr_len_quality"))


@register(
    "source_vocab_overlap",
    f"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS token FROM documents),
    vocab AS (SELECT DISTINCT source, token FROM tok),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vocab
              FROM vocab GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM vocab a JOIN vocab b
        ON a.token = b.token AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.source_a, i.source_b, i.n_common,
           CAST(i.n_common AS DOUBLE)
             / CAST(sa.n_vocab + sb.n_vocab - i.n_common AS BIGINT)
             AS vocab_jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """,
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-similarity matrix: vocabulary Jaccard between every source
    pair — the signal behind 'these two feeds are the same crawl' mixing
    and dedup decisions. The corpus collapses to a (source, token) vocab
    once (persisted: it feeds the sizes aggregate and both self-join
    sides, and exchange reuse across a self-join is not a contract); the
    token-key self-join emits at most |sources|^2 rows per token; sizes
    broadcast into the final |pairs|-row select."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = persist(
        docs.select(
            "source", F.explode(text.tokens(F.lower(F.col("text")))).alias("token")
        ).distinct()
    )
    sizes = vocab.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab")
    )
    a = vocab.withColumnRenamed("source", "source_a")
    b = vocab.withColumnRenamed("source", "source_b")
    inter = (
        a.join(b, ["token"])
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sa = sizes.withColumnRenamed("source", "source_a").withColumnRenamed(
        "n_vocab", "n_a"
    )
    sb = sizes.withColumnRenamed("source", "source_b").withColumnRenamed(
        "n_vocab", "n_b"
    )
    out = (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("bigint")
            ).alias("vocab_jaccard"),
        )
    )
    return own(out, "source_vocab_overlap", vocab)


# ---------------------------------------------------------------------------
# Char-shingle near-dup: the word-boundary-robust dedup variant
# ---------------------------------------------------------------------------

_CHAR_SHINGLES_CTE = """
  chars AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
  shingled AS (
    SELECT DISTINCT doc_id,
           unnest(CASE WHEN length(t) >= 8
                  THEN list_transform(generate_series(1, length(t) - 7),
                                      i -> substr(t, i, 8))
                  ELSE [] END) AS shingle
    FROM chars
  )
"""

# char-shingle banding: 2 bands x 4 rows (NOT the word pipeline's 4 x 2).
# Char shingles are low-entropy — random same-language docs share enough
# common 8-grams that their minhash-agreement probability is far above
# word-shingle levels, and a 2-row band admits ~30% of ALL pairs
# (measured: 1.5M candidates from 5k docs at n=5, r=2 -> 285 at n=8,
# r=4). Tighter bands trade recall on marginal pairs (P[catch J=0.7] =
# 1-(1-0.7^4)^2 ~ 42%) for a candidate set that stays pair-shaped;
# near-identical dups (J ~ 1) are still caught with P ~ 96%.
_CHAR_BANDS_CTE = """
  char_bands AS (
    SELECT doc_id, 0 AS band_id,
           {b0} AS band_hash
    FROM signatures
    UNION ALL
    SELECT doc_id, 1, {b1}
    FROM signatures
  ),
  char_capped AS (
    SELECT doc_id, band_id, band_hash,
           ROW_NUMBER() OVER (PARTITION BY band_id, band_hash
                              ORDER BY doc_id) AS rn
    FROM char_bands
  ),
  candidate_pairs AS (
    SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM char_capped l JOIN char_capped r
      ON l.band_id = r.band_id AND l.band_hash = r.band_hash
     AND l.doc_id < r.doc_id
     AND l.rn <= {cap} AND r.rn <= {cap}
  )
""".format(
    b0=sql_hash64(
        "concat_ws('_', CAST(mh_0 AS VARCHAR), CAST(mh_1 AS VARCHAR), "
        "CAST(mh_2 AS VARCHAR), CAST(mh_3 AS VARCHAR))"
    ),
    b1=sql_hash64(
        "concat_ws('_', CAST(mh_4 AS VARCHAR), CAST(mh_5 AS VARCHAR), "
        "CAST(mh_6 AS VARCHAR), CAST(mh_7 AS VARCHAR))"
    ),
    cap=dedup.DEFAULT_MAX_BUCKET_SIZE,
)


@register(
    "char_shingle_near_dup",
    f"""
    WITH {_CHAR_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_CHAR_BANDS_CTE}, {_PAIR_JACCARD_CTES}
    SELECT doc_a, doc_b, jaccard FROM pair_jaccard WHERE jaccard >= 0.7
    """,
    eager=True,
)
def q_char_shingle_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over character 8-shingles at Jaccard >= 0.7 — the
    tokenizer-free variant that survives the spacing/punctuation
    mangling which defeats word shingles (one edit shifts at most 8
    char shingles but rewrites every word shingle it touches). Same DAG
    as near_dup_jaccard but banded 2 x 4 instead of 4 x 2: char
    shingles are low-entropy, and a 2-row band admits a third of ALL
    same-language pairs as candidates (measured 1.5M -> 285 from 5k
    docs when widening to n=8, r=4 — see _CHAR_BANDS_CTE). The shared
    oracle fragments (signatures, Jaccard verify) compose over the
    char-shingle CTE unchanged (operators/dedup.py:char_shingles).

    Round 8 (VERDICT r7 item 3): the verify leg runs on the
    ARRAY-intersect plan (dedup.jaccard_pairs_arrays — per-doc sorted
    shingle-set arrays, pairs join the 1-row-per-doc table twice,
    array_intersect scores in codegen). Value-identical jaccard from
    the same exact integers; the steep 100x ratio was the EXPLODED
    verify join (1.2M candidates x ~290 shingles sort-merged against
    171M shingle rows = 86 s of the 113 s row), not the banding itself:
    band buckets stay tiny at every declared SF (max 4) and the x100
    candidate growth is the replica corpus's genuinely-elevated char-8
    overlap (J ~ 0.5-0.65 pairs that fail the 0.7 verify), which a
    bucket cap/stop cannot remove (max x100 band bucket = 308; the
    combos are broad, not hot).

    Round 9: the query now persists the per-doc SET ARRAYS instead of
    the exploded shingle rows — ONE collect_set aggregation over the
    171M-row scan feeds the signatures
    (dedup.minhash_signatures_from_sets: min over the XORed set array,
    bit-identical to min over the multiset rows), both verify sides
    (jaccard_pairs_arrays(sets=)), and nothing else touches corpus-
    sized data. The round-8 shape aggregated the persisted 171M-row
    fork three times (minhash agg + one collect_set per join side):
    measured at 100x, those re-aggregations were the actual wall.

    Round 10b: the set-array stage builds through the Arrow kernel
    (text_arrow.shingle_sets_arrow, unit='char' — bit-identical rows):
    the char-8 explode + 12M-per-sf0.1 JVM md5+conv scan + collect_set
    exchange collapse into one shuffle-free vectorized-MD5 map pass,
    measured 3.53 -> 0.58 s isolated at sf0.1 (the whole stage was the
    query's wall)."""
    docs = load_table(spark, sf_dir, "documents")
    sets = eager(persist(shingle_sets_arrow(docs, n=8, unit="char", minhashes=8)))
    sig = dedup.minhash_signatures_from_sets(sets, num_hashes=8)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=4)
    out = dedup.jaccard_pairs_arrays(
        pairs, None, min_jaccard=0.7, sets=sets
    ).where(F.col("jaccard") >= 0.7)
    return own(out, "char_shingle_near_dup", sets)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — MOSS)
# ---------------------------------------------------------------------------

# k = 16, w = 8: k is winnowing's noise threshold — at k=8 the min
# selection biases toward globally-common English 8-grams and 86% of ALL
# same-language pairs collide (108k pairs / 500 docs measured); at k=16
# the pair count tracks true duplication and is FLAT from 500 to 5000
# docs (1032 vs 1026). Guarantee: shared substrings >= w+k-1 = 23 chars
# always share a fingerprint (see operators/text.py:winnow_fingerprint_set).
_WIN_K, _WIN_W = 16, 8

_WINNOW_CTES = f"""
  base AS (
      SELECT doc_id, lower(trim(text)) AS t FROM documents
      WHERE length(lower(trim(text))) >= {_WIN_W + _WIN_K - 1}
    ),
    kg AS (
      SELECT doc_id,
             length(t) - {_WIN_K - 1} AS n_kgrams,
             unnest(generate_series(1, length(t) - {_WIN_K - 1})) AS pos,
             unnest(list_transform(generate_series(1, length(t) - {_WIN_K - 1}),
                    i -> {sql_hash64(f"substr(t, i, {_WIN_K})")})) AS h
      FROM base
    ),
    wins AS (
      SELECT doc_id, n_kgrams, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
               AS wmin
      FROM kg
    ),
    sel AS (
      SELECT DISTINCT doc_id, n_kgrams, wmin FROM wins
      WHERE pos <= n_kgrams - {_WIN_W - 1}
    )
"""

_WINNOW_ORACLE = f"""
    WITH {_WINNOW_CTES}
    SELECT doc_id, CAST(n_kgrams AS BIGINT) AS n_kgrams,
           COUNT(*) AS n_fingerprints, bit_xor(wmin) AS fp_xor
    FROM sel GROUP BY doc_id, n_kgrams
"""


@register("winnowing_fingerprints", _WINNOW_ORACLE)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS plagiarism detector's selection scheme): hash
    every char 16-gram, keep the min hash of each sliding 8-window,
    report the per-doc fingerprint count + order-free XOR digest.
    Guarantee: docs sharing any substring of >= 23 chars share a
    fingerprint, at ~2/(w+1) the storage of the full k-gram set — the
    position-robust middle ground between doc_fingerprint (whole-doc)
    and substring_dup_windows (every window). k=16 is entropy-tuned (see
    _WIN_K note above).

    Round 9 (VERDICT r8 item 2): executes on the Arrow winnow kernel's
    md5/hash64 arm (operators/text_arrow.winnow_fingerprints_arrow —
    vectorized single-block MD5, tournament window min, in-task
    distinct + count/xor rollup, ZERO shuffles) — strategy-only; the
    fingerprint sets and this oracle are unchanged, and bit-identity
    with the declarative rollup (operators/text.py:winnow_fingerprints,
    kept as the spec: scan-side explode, ONE doc_id exchange serving
    window min + distinct + combinable aggregate) is pinned by
    tests/test_text_arrow.py."""
    from mdio_python_spark.operators import text_arrow

    docs = load_table(spark, sf_dir, "documents")
    return text_arrow.winnow_fingerprints_arrow(docs, k=_WIN_K, w=_WIN_W)


# ---------------------------------------------------------------------------
# Source-centroid cosine matrix (embedding analog of source_vocab_overlap)
# ---------------------------------------------------------------------------

_CENTROID_ORACLE = """
    WITH joined AS (
      SELECT d.source, e.embedding
      FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
    ),
    comp0 AS (
      SELECT source,
             unnest(generate_series(1, len(embedding))) AS dim,
             unnest(embedding) AS v
      FROM joined
    ),
    comp AS (
      SELECT source, dim,
             CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS DECIMAL(18,0)) AS vq
      FROM comp0
    ),
    sums AS (
      SELECT source, dim, CAST(SUM(vq) AS DECIMAL(18,0)) AS s
      FROM comp GROUP BY source, dim
    ),
    dots AS (
      SELECT a.source AS group_a, b.source AS group_b,
             SUM(CAST(a.s * b.s AS DECIMAL(37,0))) AS dot
      FROM sums a JOIN sums b ON a.dim = b.dim AND a.source < b.source
      GROUP BY 1, 2
    ),
    norms AS (
      SELECT source, SUM(CAST(s * s AS DECIMAL(37,0))) AS n2
      FROM sums GROUP BY source
    )
    SELECT group_a, group_b,
           CAST(dot AS DOUBLE)
             / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
             AS centroid_cosine
    FROM dots
    JOIN norms na ON na.source = group_a
    JOIN norms nb ON nb.source = group_b
    WHERE na.n2 > 0 AND nb.n2 > 0
"""


@register("source_centroid_cosine", _CENTROID_ORACLE)
def q_source_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-source embedding centroids — the
    semantic mixing/contamination matrix ('these two crawls cover the
    same content') beside the token-level source_vocab_overlap. Cosine is
    scale-invariant so the SUM vectors stand in for the means, the
    floor(v * 1e6) quantization cancels too, and every arithmetic step
    before the final IEEE chain is exact decimal
    (operators/similarity.py:source_centroid_cosine documents the
    precision ladder and why DECIMAL(37,0) dodges Spark's silent
    scale-reduction trap).

    Scale shape: scan-side posexplode, one combinable groupBy(source,
    dim) collapsing the corpus to |sources| x dim rows; everything after
    is dimension-table sized (dim-keyed self-join, broadcast norms)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.source_centroid_cosine(docs, emb)


# ---------------------------------------------------------------------------
# Exact top n-grams per language (grouped two-phase top-k)
# ---------------------------------------------------------------------------

_TOP_NGRAMS_ORACLE = f"""
    WITH g AS (
      SELECT lang,
             unnest(CASE WHEN len({_TOKS}) >= 3
                    THEN list_transform(
                           generate_series(1, len({_TOKS}) - 2),
                           i -> array_to_string(list_slice({_TOKS}, i, i + 2), ' '))
                    ELSE [] END) AS shingle
      FROM documents
    ),
    c AS (
      SELECT lang, shingle, COUNT(*) AS n_occurrences
      FROM g GROUP BY lang, shingle
    ),
    r AS (
      SELECT lang, shingle, n_occurrences,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_occurrences DESC, shingle) AS rank
      FROM c
    )
    SELECT lang, shingle, n_occurrences, rank FROM r WHERE rank <= 10
"""


@register("top_ngrams_by_lang", _TOP_NGRAMS_ORACLE)
def q_top_ngrams_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 most frequent word 3-grams per language — the exact
    audit twin of countmin_heavy_hitters (boilerplate detection: the
    highest-frequency n-grams ARE the site templates / license headers a
    curation pass strips). Counts are one combinable groupBy; the per-
    group ranking is retrieval.grouped_topk's two-phase shape, so even a
    language holding most of the corpus never pushes an unbounded set
    through one task (phase 1 ranks inside (lang, 64 hash buckets),
    phase 2 sees <= 64k survivors per lang)."""
    from mdio_python_spark.operators.retrieval import grouped_topk

    docs = load_table(spark, sf_dir, "documents")
    # round 11 measured-and-rejected: the Arrow multiset kernel was a
    # wash-to-loss here (0.90 -> 1.18 s bench, parity isolated) — the
    # (lang, shingle) partial aggregation already collapses occurrence
    # rows map-side, so the kernel's chunk-distinct partials save no
    # exchange volume and the Python boundary is pure overhead. The
    # kernel stays on the bigram LM, the one consumer where it was
    # measured faster (DSIR went back to this path too).
    grams = dedup.word_shingles(docs, n=3, id_col="lang", distinct=False)
    counts = grams.groupBy("lang", "shingle").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    return grouped_topk(counts, ["lang"], "n_occurrences", "shingle", k=10)


# ---------------------------------------------------------------------------
# Leakage-safe split + effective dataset size (cluster-aware curation)
# ---------------------------------------------------------------------------

_LEAK_SPLIT_HASH = sql_hash64("'leak' || CAST(cluster_id AS VARCHAR)")

_LEAKAGE_ORACLE = f"""
    WITH RECURSIVE {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE}, {_CC_CTES},
    assigned AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN {_LEAK_SPLIT_HASH} % 100 < 80 THEN 'train'
                WHEN {_LEAK_SPLIT_HASH} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
"""


@register("leakage_safe_split", _LEAKAGE_ORACLE, eager=True)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-aware train/val/test split: hash the CLUSTER id,
    not the doc id, so near-duplicates can never straddle train and test
    (the silent eval-leak a per-doc salted split permits — a test doc's
    near-copy in train is memorization measured as generalization).
    Clustering uses raw LSH candidates (recall over precision: a false
    merge only moves docs to the same split, never leaks), singletons
    are their own cluster, and the split stays deterministic / stable
    under corpus growth like curation.assign_split.

    Scale shape: the LSH + connected-components DAG (O(log n) rounds),
    one left join of the corpus id column against the clustered subset,
    then a pure projection — no window, no driver state."""
    from mdio_python_spark.operators.curation import split_hash

    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_from_sets(
        shingle_sets_arrow(docs, n=3, unit="word", minhashes=8, emit_sets=False),
        num_hashes=8,
    )
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    clusters = dedup.connected_components(pairs, assume_distinct=True)
    full = (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
        )
    )
    bucket = split_hash(F.col("cluster_id"), "leak", 100)
    return full.withColumn(
        "split",
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test")),
    )


_EFFECTIVE_ORACLE = f"""
    WITH RECURSIVE {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE}, {_CC_CTES},
    base AS (
      SELECT d.doc_id, d.source,
             CAST(len({_TOKS}) AS BIGINT) AS n_tok,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_kept,
           CAST(SUM(CASE WHEN doc_id = cluster_id THEN n_tok ELSE 0 END) AS BIGINT)
             AS n_tokens_kept,
           CAST(SUM(CASE WHEN doc_id = cluster_id THEN n_tok ELSE 0 END) AS DOUBLE)
             / CAST(SUM(n_tok) AS DOUBLE) AS token_keep_ratio
    FROM base GROUP BY source
"""


@register("dedup_effective_tokens", _EFFECTIVE_ORACLE, eager=True)
def q_dedup_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective dataset size after near-dup dedup, per source: docs and
    tokens before/after keeping one representative (the min-id cluster
    label) per near-dup cluster — the number a data-mixing plan actually
    budgets with (raw token counts overstate a crawly source's
    contribution by its duplication factor).

    Scale shape: the shared LSH + connected-components DAG, one left
    join against the clustered subset, one combinable groupBy(source)."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures_from_sets(
        shingle_sets_arrow(docs, n=3, unit="word", minhashes=8, emit_sets=False),
        num_hashes=8,
    )
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    clusters = dedup.connected_components(pairs, assume_distinct=True)
    base = (
        docs.select(
            "doc_id", "source", text.token_count(F.col("text")).alias("n_tok")
        )
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    kept = F.col("doc_id") == F.col("cluster_id")
    kept_tok = F.sum(F.when(kept, F.col("n_tok")).otherwise(F.lit(0)))
    return base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum(kept.cast("long")).alias("n_docs_kept"),
        kept_tok.alias("n_tokens_kept"),
        (kept_tok.cast("double") / F.sum("n_tok").cast("double")).alias(
            "token_keep_ratio"
        ),
    )


# The pair path's k-gram hash is Spark-native xxhash64 (internal-key
# rule: only (doc_a, doc_b, n_shared) is published, but the hash drives
# the min-selection so the oracle mirrors XXH64 bit-for-bit — see
# functions/scalars.py:sql_xxhash64_ascii16; requires k=16 so each
# k-gram is exactly 16 ASCII bytes — non-16-byte input trips the
# generator's poison guard as a loud hex-cast failure).
assert _WIN_K == 16, "xxh64 oracle mirror is generated for 16-byte k-grams"

_WINNOW_CTES_XX = f"""
  base AS (
      SELECT doc_id, lower(trim(text)) AS t FROM documents
      WHERE length(lower(trim(text))) >= {_WIN_W + _WIN_K - 1}
    ),
    kgp AS (
      SELECT doc_id,
             length(t) - {_WIN_K - 1} AS n_kgrams,
             unnest(generate_series(1, length(t) - {_WIN_K - 1})) AS pos,
             t
      FROM base
    ),
    kg AS (
      SELECT doc_id, n_kgrams, pos, h
      FROM {sql_xxhash64_ascii16(
          f"SELECT doc_id, n_kgrams, pos, "
          f"hex(encode(substr(t, pos, {_WIN_K}))) AS hx FROM kgp",
          out="h",
      )}
    ),
    wins AS (
      SELECT doc_id, n_kgrams, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING)
               AS wmin
      FROM kg
    ),
    sel AS (
      SELECT DISTINCT doc_id, n_kgrams, wmin FROM wins
      WHERE pos <= n_kgrams - {_WIN_W - 1}
    )
"""

# Stop-fingerprint rule (round 8, VERDICT r7 item 4): a fingerprint
# whose document frequency exceeds this is corpus boilerplate (license
# blocks, templates) and is DROPPED before pair generation — the
# MOSS/IR stop-word treatment. 300 exceeds the largest df observed at
# every declared SF (287 at sf0.1; 37 at sf0.01; 24 at sf0.001), so the
# declared pair sets are bit-identical to the pre-stop spec, while the
# 100x stress corpus — whose replica structure manufactures 16-char
# boilerplate df up to ~19,000 — stops emitting cap²/2 meaningless
# combos per hot key (measured: 1.18B -> ~0.42B combo rows at 100x).
_WINNOW_STOP_DF = 300

_WINNOW_PAIRS_ORACLE = f"""
    WITH {_WINNOW_CTES_XX},
    capped AS (
      SELECT doc_id, wmin,
             ROW_NUMBER() OVER (PARTITION BY wmin ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY wmin) AS df
      FROM sel
    )
    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM capped l JOIN capped r
      ON l.wmin = r.wmin AND l.doc_id < r.doc_id
     AND l.rn <= {dedup.DEFAULT_MAX_BUCKET_SIZE}
     AND r.rn <= {dedup.DEFAULT_MAX_BUCKET_SIZE}
     AND l.df <= {_WINNOW_STOP_DF}
    GROUP BY l.doc_id, r.doc_id
    HAVING COUNT(*) >= 2
"""


@register("winnowing_dup_pairs", _WINNOW_PAIRS_ORACLE)
def q_winnowing_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= 2 winnowing fingerprints — the MOSS
    match report: each shared fingerprint certifies a shared >= 16-char
    region, so the pair list surfaces partial plagiarism / boilerplate
    reuse that whole-document and shingle-Jaccard dedup both miss (a
    200-char license block inside two otherwise-unrelated docs moves
    Jaccard barely, but yields a run of shared fingerprints). Threshold
    2 drops single-collision noise; n_shared ranks match strength.
    k=16 keeps the output TRUE-duplication-shaped: measured pair count
    is flat from 500 to 5000 docs (1032 vs 1026), where k=8 admitted 86%
    of all same-language pairs (the _WIN_K entropy note).

    Scale shape: fingerprint selection is the winnowing DAG (one doc_id
    exchange); pair generation is dedup.bucket_pair_counts — in-bucket
    combinations under the deterministic sorted-id cap (mirrored in the
    oracle via rn <= cap), never a corpus self-join. The k-gram hash is
    Spark-native xxhash64 (internal_hash=True): only (doc_a, doc_b,
    n_shared) is published so the md5 cross-corpus contract isn't
    needed, and dropping the per-position digest+hex round-trip halves
    the dominant scan stage (this was the top absolute 100x stress row).
    The oracle mirrors XXH64 exactly — min-selection changes with the
    hash, so this is NOT the window_dup_stats transport-only case; see
    _WINNOW_CTES_XX and functions/scalars.py:sql_xxhash64_ascii16.
    The >= w+k-1 = 23-char shared-region guarantee is hash-agnostic and
    unchanged.

    Round 8 (VERDICT r7 item 4): fingerprint selection executes on the
    Arrow winnow kernel (operators/text_arrow.winnow_fingerprint_set_arrow
    — vectorized XXH64 + tournament window min + in-task distinct, one
    shuffle-free map pass) — strategy-only, fingerprint set bit-identical
    to the declarative explode/window/distinct DAG (pinned by
    tests/test_text_arrow.py; this oracle is unchanged). The O(chars)
    doc_id exchange and the distinct exchange disappear; the plan's only
    shuffle is the pair join's wmin exchange over the ~2/(w+1)-selected
    fingerprints.

    Stop-fingerprint rule (also round 8): fingerprints with document
    frequency above _WINNOW_STOP_DF are dropped before pair generation
    (oracle-mirrored df guard) — identical pair sets at every declared
    SF (the threshold exceeds the largest observed df there), and the
    boilerplate-heavy 100x corpus stops paying cap²/2 combos per hot
    key (the post-Arrow profile showed the COMBO SHUFFLE, not the
    fingerprinting, was the 100x wall: 1.18B combo rows, buckets up to
    19k docs).

    Round 9 (VERDICT r8 item 1, the 30x superlinear flag): the pair
    count runs POST-exchange only (dedup.bucket_pair_counts repartitions
    raw combos on the pair key; plan-pinned). The combo stream is
    ~all-distinct per bucket-hash task — a pair's m co-occurrences live
    in m different wmin partitions — so the old map-side partial count
    bought no reduction while its hash map overflowed into sort-based
    fallback: measured 110 s -> 22 s for the whole query at 30x. Member
    sets were also measured as a collapse candidate and rejected: the
    1.74M buckets hold 1.59M DISTINCT member arrays (the replica
    corpus's boilerplate groups differ per fingerprint), so bucket-level
    dedup cannot reduce the combo mass — the exchange must simply be
    efficient. Same aggregation, same oracle, pair sets bit-identical."""
    from mdio_python_spark.operators import text_arrow

    docs = load_table(spark, sf_dir, "documents")
    fps = text_arrow.winnow_fingerprint_set_arrow(
        docs, k=_WIN_K, w=_WIN_W, internal_hash=True
    ).select("doc_id", "wmin")
    counts = dedup.bucket_pair_counts(
        fps, ["wmin"], stop_bucket_size=_WINNOW_STOP_DF
    )
    return counts.where(F.col("n_shared") >= 2)


# ---------------------------------------------------------------------------
# Cluster-vs-label purity (clustering-eval QC)
# ---------------------------------------------------------------------------

_PURITY_ORACLE = f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cent_vec FROM embeddings
      WHERE vec_id < 16
    ),
    assign AS (
      SELECT vec_id, label, CAST(cid AS BIGINT) AS cell
      FROM embeddings, cent
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY vec_id
        ORDER BY {_IVF_COS.format(a="embedding", b="cent_vec")} DESC, cid) = 1
    ),
    counts AS (
      SELECT cell, label, COUNT(*) AS n FROM assign GROUP BY cell, label
    ),
    sized AS (
      SELECT cell, CAST(SUM(n) AS BIGINT) AS n_members FROM counts GROUP BY cell
    ),
    major AS (
      SELECT cell, label AS majority_label, CAST(n AS BIGINT) AS n_majority
      FROM counts
      QUALIFY ROW_NUMBER() OVER (PARTITION BY cell
                                 ORDER BY n DESC, label) = 1
    )
    SELECT s.cell, s.n_members, m.majority_label, m.n_majority,
           CAST(m.n_majority AS DOUBLE) / CAST(s.n_members AS DOUBLE) AS purity
    FROM sized s JOIN major m ON m.cell = s.cell
"""


@register("cluster_label_purity", _PURITY_ORACLE)
def q_cluster_label_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell label purity of the IVF clustering — the clustering-eval
    QC run before SemDeDup / IVF-ANN trusts an embedding batch: if cells
    don't concentrate labels (purity ~ 1/|labels|), the embedding run is
    broken or the cell count is wrong, and every cell-scoped dedup
    decision downstream inherits it. Majority label ties break on the
    smaller label id (deterministic cross-engine).

    Scale shape: assignment is the shared literal-centroid argmax
    projection (similarity.ivf_cell_assignments — no corpus shuffle or
    join), then ONE combinable groupBy(cell, label) collapses the corpus
    to |cells| x |labels| rows; the majority window and size aggregate
    run on that tiny table."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    keyed = similarity.ivf_cell_assignments(
        emb, n_centroids=16, keep_cols=("label",)
    )
    counts = keyed.groupBy("cell", "label").agg(F.count(F.lit(1)).alias("n"))
    sized = counts.groupBy("cell").agg(F.sum("n").alias("n_members"))
    w = Window.partitionBy("cell").orderBy(F.col("n").desc(), "label")
    major = (
        counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "cell",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_majority"),
        )
    )
    return sized.join(F.broadcast(major), "cell").select(
        "cell",
        "n_members",
        "majority_label",
        "n_majority",
        (F.col("n_majority").cast("double") / F.col("n_members").cast("double")).alias(
            "purity"
        ),
    )


# ---------------------------------------------------------------------------
# Quality-decile vs near-dup rate (cross-signal curation QC)
# ---------------------------------------------------------------------------


def _quality_dup_oracle() -> str:
    from mdio_python_spark.operators.scoring import sql_token_weight

    return f"""
    WITH RECURSIVE {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE},
    {_PAIR_JACCARD_CTES},
    dups AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pair_jaccard WHERE jaccard >= 0.5
        UNION ALL
        SELECT doc_b FROM pair_jaccard WHERE jaccard >= 0.5
      )
    ),
    tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
    agg AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM({sql_token_weight('token')}) AS BIGINT) AS weight_sum
      FROM tok GROUP BY doc_id
    ),
    scored AS (
      SELECT doc_id,
             CAST(weight_sum AS DOUBLE)
               / (CAST(n_tokens AS DOUBLE) * 50001.0) AS score
      FROM agg
    ),
    tiled AS (
      SELECT doc_id, score,
             NTILE(10) OVER (ORDER BY score DESC, doc_id) AS decile
      FROM scored
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_members,
           CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM tiled t LEFT JOIN dups d ON d.doc_id = t.doc_id
    GROUP BY decile
    """


@register("quality_dup_deciles", _quality_dup_oracle(), eager=True)
def q_quality_dup_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup membership rate per quality-score decile — the
    cross-signal audit run before shipping a quality threshold: quality
    filters and dedup interact (boilerplate scores low AND duplicates
    heavily; if the bottom deciles are mostly near-dup members, dedup
    should run FIRST or the quality model is just re-measuring
    duplication). Composes three verified pipelines: the hashed-linear
    quality score, the two-phase-ordinal NTILE (no single-task sort),
    and the LSH -> exact-Jaccard near-dup pair set.

    Scale shape: score is one combinable groupBy;
    deciles via ranking.ntile_from_ordinal (range partitioner +
    broadcast offsets + int NTILE formula); dup membership is a
    broadcast-able distinct-id left join (LSH-bounded, tiny vs corpus);
    final rollup is one combinable groupBy(decile)."""
    from mdio_python_spark.operators.ranking import (
        distributed_ordinal,
        ntile_from_ordinal,
    )
    from mdio_python_spark.operators.scoring import model_score

    docs = load_table(spark, sf_dir, "documents")
    scored = model_score(docs).select("doc_id", "score")
    ranked = distributed_ordinal(
        scored,
        [F.col("score").desc(), "doc_id"],
        ordinal_col="_rn",
        scope="llm.quality_dup_deciles",
    )
    tiled = ntile_from_ordinal(ranked, 10, ordinal_col="_rn", out_col="decile")

    sets = _word_shingle_sets(docs)
    sig = dedup.minhash_signatures_from_sets(sets, num_hashes=8)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    verified = dedup.jaccard_pairs_arrays(
        pairs, None, min_jaccard=0.5, sets=sets
    ).where(F.col("jaccard") >= 0.5)
    dups = (
        verified.select(F.col("doc_a").alias("doc_id"))
        .unionAll(verified.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    is_dup = F.coalesce(F.col("_dup"), F.lit(0))
    out = (
        tiled.join(dups, "doc_id", "left")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(is_dup).cast("bigint").alias("n_dup_members"),
            (
                F.sum(is_dup).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("dup_rate"),
        )
    )
    return own(out, "llm.quality_dup_deciles.shingles", sets)


# ---------------------------------------------------------------------------
# Round-5d batch 9: dedup-tuning + ANN-graph QC family
# ---------------------------------------------------------------------------

_THRESHOLDS = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8)

_THRESHOLD_SWEEP_ORACLE = f"""
WITH {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE}, {_PAIR_JACCARD_CTES},
thresholds AS (
  SELECT CAST(unnest([{", ".join(str(t) for t in _THRESHOLDS)}]) AS DOUBLE)
         AS threshold
),
swept AS (
  SELECT t.threshold, p.doc_a, p.doc_b
  FROM pair_jaccard p JOIN thresholds t ON p.jaccard >= t.threshold
),
per AS (
  SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_docs_dropped
  FROM swept GROUP BY threshold
),
aff AS (
  SELECT threshold, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_affected
  FROM (SELECT threshold, doc_a AS doc_id FROM swept
        UNION ALL SELECT threshold, doc_b FROM swept)
  GROUP BY threshold
)
SELECT per.threshold, per.n_pairs, aff.n_docs_affected, per.n_docs_dropped
FROM per JOIN aff ON aff.threshold = per.threshold
"""


@register("dedup_threshold_sweep", _THRESHOLD_SWEEP_ORACLE, eager=True)
def q_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-aggressiveness tuning curve: pair count, affected-doc
    count, and dropped-doc count (keep-min-id convention: a doc drops iff
    it is the larger id of some surviving pair) at every candidate
    Jaccard threshold — all from ONE verified pair set. The curve a
    curation team reads before fixing the production threshold: where
    n_docs_dropped elbows is where near-duplication actually lives.

    Scale shape: the expensive work (shingle join + exact Jaccard) runs
    once; the verified pair set is LSH-bounded (tiny vs corpus) and
    persisted before the threshold explode forks it into the pair-count
    and affected-doc aggregates. The x|thresholds| fan-out touches pair
    rows only, never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    sets = _word_shingle_sets(docs)
    sig = dedup.minhash_signatures_from_sets(sets, num_hashes=8)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    # size-bound prefilter at the SWEEP'S MINIMUM threshold: a pair
    # whose size ratio is below min(_THRESHOLDS) cannot pass any row of
    # the sweep — provably output-identical for every threshold. (The
    # sweep's lowest threshold also guards the arrays-variant n_common=0
    # rows: jaccard 0.0 < min(_THRESHOLDS) never enters any leg.)
    verified = persist(
        dedup.jaccard_pairs_arrays(
            pairs, None, min_jaccard=min(_THRESHOLDS), sets=sets
        ).where(F.col("jaccard") >= min(_THRESHOLDS))
    )
    # carry an INTEGER threshold index through the explode and join the
    # two aggregates on it — float-equality joins are correct only while
    # both sides materialize the identical literal; any future derived
    # threshold (arithmetic, config parse) would silently mis-join. The
    # double is projected back only in the final select.
    swept = verified.select(
        "doc_a",
        "doc_b",
        "jaccard",
        F.posexplode(F.array(*[F.lit(t) for t in _THRESHOLDS])).alias(
            "t_idx", "threshold"
        ),
    ).where(F.col("jaccard") >= F.col("threshold"))
    per = swept.groupBy("t_idx", "threshold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.countDistinct("doc_b").cast("bigint").alias("n_docs_dropped"),
    )
    aff = (
        swept.select(
            "t_idx", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        )
        .groupBy("t_idx")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs_affected"))
    )
    out = per.join(F.broadcast(aff), "t_idx").select(
        "threshold", "n_pairs", "n_docs_affected", "n_docs_dropped"
    )
    return own(out, "llm.dedup_threshold_sweep", sets, verified)


_CONTAINMENT_MIN = 0.6

_CONTAINMENT_ORACLE = f"""
WITH {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingled GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
  FROM candidate_pairs p
  JOIN shingled a ON a.doc_id = p.doc_a
  JOIN shingled b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
  GROUP BY p.doc_a, p.doc_b
)
SELECT i.doc_a, i.doc_b,
       CAST(i.n_common AS BIGINT) AS n_common,
       CAST(sa.n_shingles AS BIGINT) AS n_a,
       CAST(sb.n_shingles AS BIGINT) AS n_b,
       CAST(i.n_common AS DOUBLE)
         / CAST(sa.n_shingles + sb.n_shingles - i.n_common AS DOUBLE) AS jaccard,
       CAST(i.n_common AS DOUBLE)
         / CAST(LEAST(sa.n_shingles, sb.n_shingles) AS DOUBLE) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE)
        / CAST(LEAST(sa.n_shingles, sb.n_shingles) AS DOUBLE)
      >= {_CONTAINMENT_MIN}
"""


@register("containment_dup_pairs", _CONTAINMENT_ORACLE, eager=True)
def q_containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (Broder 1997): candidate pairs where
    |A∩B| / min(|A|,|B|) >= 0.6 — the subset-duplication class (a short
    doc quoted wholesale inside a long aggregator page) that a symmetric
    Jaccard threshold silently passes, reported alongside Jaccard so the
    gap between the two IS the subset signal.

    Scale shape: identical to the Jaccard verify — the containment ratio
    is one extra double divide over the same exact overlap counts
    (operators/dedup.py:containment_pairs), so this adds zero joins and
    zero exchanges to the near-dup DAG."""
    docs = load_table(spark, sf_dir, "documents")
    sets = _word_shingle_sets(docs)
    sig = dedup.minhash_signatures_from_sets(sets, num_hashes=8)
    pairs = dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2)
    out = dedup.containment_pairs_arrays(pairs, None, sets=sets).where(
        F.col("containment") >= _CONTAINMENT_MIN
    )
    return own(out, "llm.containment_dup_pairs", sets)


_EDGE_DENSITY_ORACLE = f"""
WITH RECURSIVE {_SHINGLES_CTE}, {_SIGNATURES_CTE}, {_BANDS_CTE}, {_CC_CTES},
{_PAIR_JACCARD_CTES},
csize AS (
  SELECT cluster_id, COUNT(*) AS n_members FROM clusters GROUP BY cluster_id
),
cedge AS (
  SELECT c.cluster_id, COUNT(*) AS n_cand
  FROM candidate_pairs p JOIN clusters c ON c.doc_id = p.doc_a
  GROUP BY c.cluster_id
),
vedge AS (
  SELECT c.cluster_id, COUNT(*) AS n_ver
  FROM pair_jaccard j JOIN clusters c ON c.doc_id = j.doc_a
  WHERE j.jaccard >= 0.5
  GROUP BY c.cluster_id
)
SELECT s.cluster_id,
       CAST(s.n_members AS BIGINT) AS n_members,
       CAST(e.n_cand AS BIGINT) AS n_candidate_edges,
       CAST(COALESCE(v.n_ver, 0) AS BIGINT) AS n_verified_edges,
       CAST(2 * COALESCE(v.n_ver, 0) AS DOUBLE)
         / CAST(s.n_members * (s.n_members - 1) AS DOUBLE) AS verified_density
FROM csize s
JOIN cedge e ON e.cluster_id = s.cluster_id
LEFT JOIN vedge v ON v.cluster_id = s.cluster_id
"""


@register("cluster_edge_density", _EDGE_DENSITY_ORACLE, eager=True)
def q_cluster_edge_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaining QC for transitive dedup clusters: per connected component
    (over raw LSH candidates — the leakage_safe_split convention), the
    member count, candidate-edge count, verified-edge count (exact
    Jaccard >= 0.5), and verified-edge density 2E/(n(n-1)). A large
    cluster with near-zero verified density is the classic MinHash
    chaining failure (A~B~C with A!~C), and dropping it wholesale
    destroys unrelated documents — this is the table that decision reads.

    Scale shape: clusters via the O(log n) large-star/small-star
    fixpoint (eager: the loop runs at construction); edge counts are two
    pair-side joins (LSH-bounded) + combinable groupBys; the shingle
    stage persists once and feeds signatures + the Jaccard verify."""
    docs = load_table(spark, sf_dir, "documents")
    sets = _word_shingle_sets(docs)
    sig = dedup.minhash_signatures_from_sets(sets, num_hashes=8)
    pairs = persist(dedup.lsh_candidate_pairs(sig, num_hashes=8, rows_per_band=2))
    clusters = dedup.connected_components(pairs, assume_distinct=True)
    verified = dedup.jaccard_pairs_arrays(
        pairs, None, min_jaccard=0.5, sets=sets
    ).where(F.col("jaccard") >= 0.5)
    ca = clusters.withColumnRenamed("doc_id", "doc_a")
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    cand_cnt = (
        pairs.join(ca, "doc_a")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_candidate_edges"))
    )
    ver_cnt = (
        verified.join(ca, "doc_a")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_verified_edges"))
    )
    nv = F.coalesce(F.col("n_verified_edges"), F.lit(0)).cast("bigint")
    out = (
        sizes.join(F.broadcast(cand_cnt), "cluster_id")
        .join(F.broadcast(ver_cnt), "cluster_id", "left")
        .select(
            "cluster_id",
            "n_members",
            "n_candidate_edges",
            nv.alias("n_verified_edges"),
            (
                (F.lit(2) * nv).cast("double")
                / (F.col("n_members") * (F.col("n_members") - 1)).cast("double")
            ).alias("verified_density"),
        )
    )
    return own(out, "llm.cluster_edge_density", sets, pairs)


# shared oracle fragment for the IVF-QC queries: literal-centroid argmax
# assignment (cent = deterministic id-prefix convention, mirrors
# _resolve_centroids' TEST/ORACLE default)
_IVF_ASSIGN_CTES = f"""
cent AS (
  SELECT vec_id AS cid, embedding AS cent_vec FROM embeddings WHERE vec_id < 16
),
assign AS (
  SELECT vec_id, embedding, CAST(cid AS BIGINT) AS cell
  FROM embeddings, cent
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id
    ORDER BY {_IVF_COS.format(a="embedding", b="cent_vec")} DESC, cid) = 1
)
"""

_CELL_BALANCE_ORACLE = f"""
WITH {_IVF_ASSIGN_CTES},
counts AS (SELECT cell, COUNT(*) AS n_vecs FROM assign GROUP BY cell),
tot AS (SELECT SUM(n_vecs) AS total, COUNT(*) AS n_cells FROM counts)
SELECT cell,
       CAST(n_vecs AS BIGINT) AS n_vecs,
       CAST(n_vecs AS DOUBLE) / CAST(total AS DOUBLE) AS frac,
       CAST(n_vecs * n_cells AS DOUBLE) / CAST(total AS DOUBLE) AS load_factor
FROM counts, tot
"""


@register("ivf_cell_balance", _CELL_BALANCE_ORACLE)
def q_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index balance QC: per-cell population, corpus fraction, and
    load factor (n_vecs x n_cells / total — 1.0 = perfectly balanced).
    ANN probe latency is governed by the LARGEST cell a query touches,
    so a load factor of 8 on one cell means 8x tail latency and a
    hot-cell cap that silently truncates recall — this is the table an
    index rebuild decision reads (re-fit centroids, or split the cell).

    Scale shape: assignment is the shared literal-centroid argmax
    projection (no corpus shuffle); ONE combinable groupBy(cell)
    collapses the corpus to |cells| rows, PERSISTED before the total
    fork — the repo's persist-the-fork rule (the round-5 advisor caught
    the unpersisted counts->total fork executing the assignment scan
    twice); the total is a broadcast 1-row aggregate over the cached
    |cells| rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    counts = persist(
        similarity.ivf_cell_assignments(emb, n_centroids=16)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vecs"))
    )
    tot = counts.agg(
        F.sum("n_vecs").alias("_total"),
        F.count(F.lit(1)).alias("_n_cells"),
    )
    out = counts.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vecs",
        (F.col("n_vecs").cast("double") / F.col("_total").cast("double")).alias(
            "frac"
        ),
        (
            (F.col("n_vecs") * F.col("_n_cells")).cast("double")
            / F.col("_total").cast("double")
        ).alias("load_factor"),
    )
    return own(out, "llm.ivf_cell_balance", counts)


_HUBNESS_ORACLE = f"""
WITH {_IVF_ASSIGN_CTES},
live AS (
  -- mirror of knn_graph's zero-norm exclusion: cosine is undefined for
  -- zero vectors, so they join the graph on neither side (they still
  -- count below as in-degree-0 rows)
  SELECT * FROM assign WHERE {_DOT.format(a="embedding", b="embedding")} > 0
),
members AS (
  SELECT vec_id, embedding, cell,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
  FROM live
),
topk AS (
  SELECT query_id, candidate_id FROM (
    SELECT q.vec_id AS query_id, a.vec_id AS candidate_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_IVF_COS.format(a="q.embedding", b="a.embedding")} DESC,
                      a.vec_id) AS rnk
    FROM live q JOIN members a
      ON a.cell = q.cell AND a.vec_id <> q.vec_id AND a.rn <= 1024
  ) WHERE rnk <= 10
),
indeg AS (SELECT candidate_id, COUNT(*) AS n FROM topk GROUP BY candidate_id),
deg AS (
  SELECT e.vec_id, COALESCE(i.n, 0) AS in_degree
  FROM embeddings e LEFT JOIN indeg i ON i.candidate_id = e.vec_id
)
SELECT CAST(in_degree AS BIGINT) AS in_degree,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM deg GROUP BY in_degree
"""


@register("knn_graph_hubness", _HUBNESS_ORACLE)
def q_knn_graph_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness QC of the k=10 IVF kNN graph: the in-degree distribution
    over ALL vectors (including in-degree 0 — vectors no neighbour list
    ever retrieves, invisible to graph-based dedup/retrieval). A heavy
    right tail (hubs retrieved by thousands of queries) is the classic
    high-dimensional ANN pathology (Radovanovic et al., JMLR 2010) and
    the first thing to check before trusting kNN-graph semantic dedup.

    Scale shape: one groupBy(cell) exchange, hot-cell cap 1024
    (oracle-mirrored), per-query top-k inside the cell task. In-degree
    and its distribution are two combinable groupBys; the orphan join
    is corpus-id vs the bounded degree table. Round 8: executes on the
    Arrow kernels (vector_arrow.knn_graph_arrow — strategy-only, output
    bit-identical to similarity.knn_graph, pinned by
    tests/test_vector_arrow.py; oracle unchanged)."""
    from mdio_python_spark.operators import vector_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    g = vector_arrow.knn_graph_arrow(emb, k=10, n_centroids=16)
    indeg = g.groupBy("candidate_id").agg(F.count(F.lit(1)).alias("_n"))
    deg = (
        emb.select("vec_id")
        .join(indeg.withColumnRenamed("candidate_id", "vec_id"), "vec_id", "left")
        .select(
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("in_degree")
        )
    )
    return deg.groupBy("in_degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )


_HARD_NEG_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec, label AS query_label
  FROM embeddings WHERE vec_id < 50
),
c AS (
  SELECT vec_id AS candidate_id, embedding AS c_vec, label AS candidate_label
  FROM embeddings
),
scored AS (
  SELECT query_id, query_label, candidate_id, candidate_label,
         {_DOT.format(a="q_vec", b="c_vec")}
           / (sqrt({_DOT.format(a="q_vec", b="q_vec")})
              * sqrt({_DOT.format(a="c_vec", b="c_vec")})) AS cosine
  FROM c CROSS JOIN q
  WHERE query_id <> candidate_id AND query_label <> candidate_label
)
SELECT query_id, query_label, candidate_id, candidate_label, cosine,
       CAST(rnk AS INTEGER) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, candidate_id) AS rnk
  FROM scored
) WHERE rnk <= 5
"""


@register("hard_negative_mining", _HARD_NEG_ORACLE, eager=True)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per query vector,
    the 5 highest-cosine candidates with a DIFFERENT label — the
    near-the-margin negatives that make embedding training converge
    (random negatives are trivially separable; the hardest ones carry
    the gradient). Exact brute-force scoring over the bounded query set
    (the embedding_topk_cosine convention); a production run swaps the
    exact leg for ivf_topk candidates + exact re-rank, same downstream.

    Scale shape (round 10): the corpus x queries crossJoin of
    interpreted zip_with cosine folds runs as the vectorized Arrow map
    pass (vector_arrow.hard_negatives_arrow — bit-identical doubles,
    tie order, and NaN ordering, pinned in tests/test_vector_arrow.py);
    each task emits its local label-filtered top-5 per query and one
    bounded window assigns global ranks. Eager: construction collects
    the bounded query sample (the round-5 rule — build-time distributed
    work sits inside the timed window)."""
    emb = load_table(spark, sf_dir, "embeddings")
    from mdio_python_spark.operators.vector_arrow import hard_negatives_arrow

    return hard_negatives_arrow(
        emb.where(F.col("vec_id") < 50), emb, k=5
    )


# ---------------------------------------------------------------------------
# Round-5d batch 10: corpus-health QC + tuning curves
# ---------------------------------------------------------------------------

_DUP_INFLATION_ORACLE = f"""
WITH per AS (
  SELECT md5(text) AS h, CAST(len({_TOKS}) AS BIGINT) AS nt FROM documents
),
grp AS (
  SELECT h, CAST(COUNT(*) AS BIGINT) AS n_copies, MAX(nt) AS tok
  FROM per GROUP BY h
)
SELECT n_copies,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(n_copies * COUNT(*) AS BIGINT) AS n_docs,
       CAST(n_copies * SUM(tok) AS BIGINT) AS total_tokens,
       CAST((n_copies - 1) * SUM(tok) AS BIGINT) AS excess_tokens
FROM grp GROUP BY n_copies
"""


@register("dup_inflation_curve", _DUP_INFLATION_ORACLE)
def q_dup_inflation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-duplication inflation histogram (Lee et al., ACL 2022's
    'how much of the corpus is c-fold duplicated' table): per
    copy-multiplicity c, the group/doc counts and the token mass —
    total_tokens is what storage pays, excess_tokens is what exact dedup
    recovers. The first number a dedup budget meeting asks for.

    Scale shape: two chained combinable groupBys (text hash -> copy
    count); tokens counted once per doc on the same scan; no joins, no
    windows — all exact integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        F.md5("text").alias("h"),
        text.token_count(F.col("text")).alias("nt"),
    )
    grp = per.groupBy("h").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.max("nt").alias("tok"),
    )
    return grp.groupBy("n_copies").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        (F.col("n_copies") * F.count(F.lit(1))).cast("bigint").alias("n_docs"),
        (F.col("n_copies") * F.sum("tok")).cast("bigint").alias("total_tokens"),
        ((F.col("n_copies") - 1) * F.sum("tok"))
        .cast("bigint")
        .alias("excess_tokens"),
    )


_PREFIX_ORACLE = f"""
WITH per AS (
  SELECT {sql_hash64("array_to_string(list_slice(" + _TOKS + ", 1, 8), ' ')")}
           AS prefix_hash,
         source, lang
  FROM documents
)
SELECT prefix_hash,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM per GROUP BY prefix_hash HAVING COUNT(*) >= 2
"""


@register("boilerplate_prefix_groups", _PREFIX_ORACLE)
def q_boilerplate_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection by shared document OPENING: docs
    sharing their first 8 tokens (lowercased) grouped by prefix hash —
    a multi-source prefix group is a scraped template (cookie banners,
    licence headers) that per-doc dedup misses when the bodies differ.
    Complements segment_dedup_stats (any-position) by anchoring at the
    document head, where templates live.

    Scale shape: prefix hashes as 8-byte longs from one scan; one
    combinable groupBy; the >= 2 filter prunes the output to actual
    groups."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(
        F.slice(text.tokens(F.lower(F.trim(F.col("text")))), 1, 8), " "
    )
    per = docs.select(
        hash64(prefix).alias("prefix_hash"), "source", "lang"
    )
    return (
        per.groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
        .where(F.col("n_docs") >= 2)
    )


_CONFUSION_ORACLE = f"""
WITH scored AS (
  SELECT doc_id, lang,
         {", ".join(f"{sql} AS s_{lang}" for lang, sql in sorted(_SCORES.items()))}
  FROM documents
),
pred AS (
  SELECT lang,
         CASE WHEN s_zh > GREATEST(s_de, s_en, s_es, s_fr) THEN 'zh'
              WHEN s_fr > GREATEST(s_de, s_en, s_es) THEN 'fr'
              WHEN s_es > GREATEST(s_de, s_en) THEN 'es'
              WHEN s_en > s_de THEN 'en'
              ELSE 'de' END AS pred_lang,
         list_sort([s_de, s_en, s_es, s_fr, s_zh]) AS ss
  FROM scored
)
SELECT lang, pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN ss[5] = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_signal,
       CAST(SUM(ss[5] - ss[4]) AS BIGINT) AS sum_margin
FROM pred GROUP BY lang, pred_lang
"""


@register("langid_confusion_matrix", _CONFUSION_ORACLE)
def q_langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID QC: the (declared lang x predicted lang) confusion
    matrix with two confidence signals per cell — n_zero_signal (docs
    where every marker score was 0, so the prediction is the vacuous
    tie-break default) and sum_margin (total top1-top2 score gap; a
    low-margin cell is where the heuristic is guessing). The table read
    before trusting pred_lang for per-language curation decisions.

    Scale shape: one scan (staged marker counts), one combinable
    groupBy(lang, pred_lang) to a |langs|^2 table; margins are exact
    integer differences of hit counts."""
    docs = load_table(spark, sf_dir, "documents")
    scored = text.language_id(docs, keep_scores=True)
    langs = sorted(text.LANG_MARKERS)
    arr = F.sort_array(F.array(*[F.col(f"s_{lang}") for lang in langs]))
    n = len(langs)
    per = scored.select(
        "lang",
        "pred_lang",
        arr[n - 1].alias("_top"),
        (arr[n - 1] - arr[n - 2]).alias("_margin"),
    )
    return per.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("_top") == 0).cast("int")).cast("bigint").alias(
            "n_zero_signal"
        ),
        F.sum("_margin").cast("bigint").alias("sum_margin"),
    )


@register(
    "tokenizer_fertility_by_lang",
    f"""
    WITH {_bpe_chain_ctes(_BPE_STEPS)},
    bpe_occurrences AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(tk) AS word
        FROM (SELECT doc_id, {_TOKS} AS tk FROM documents)
      ) WHERE word <> ''
    ),
    bpe_final_counts AS (
      SELECT word,
             (length(sym) - length(replace(sym, {_BPE_SEP2}, ''))) // 2 + 1 AS k
      FROM bpe_sym_{_BPE_STEPS}
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(c.k) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(c.k) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS fertility
    FROM bpe_occurrences o
    JOIN bpe_final_counts c USING (word)
    JOIN documents d USING (doc_id)
    GROUP BY d.lang
    """,
    eager=True,
)
def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility (BPE symbols per whitespace word) per
    language under the freshly trained merge list — the tokenizer-equity
    audit (Rust et al., ACL 2021): a language with 2x the fertility pays
    2x the sequence length for the same content, so a shared-budget
    training run silently under-trains it. Same train-then-apply DAG as
    bpe_tokenized_docs, rolled up by language instead of document.

    Scale shape: the merge training gates on the observed vocab size
    (round 11): small vocabularies run the single-task kernel, large
    ones the declarative 6-step chain (combinable aggregates + 1-row
    argmax broadcasts); apply joins token occurrences to the
    vocab-bounded symbol counts; the lang join rides doc_id before the
    final combinable groupBy(lang). eager=True — construction
    materializes the word-count table (caching.size_gated)."""
    from mdio_python_spark.operators import bpe
    from mdio_python_spark.operators.text import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    wc = bpe.word_counts(docs)
    _merges, final = bpe.train_merges(wc, _BPE_STEPS, scope="llm.bpe_fertility")
    occ = docs.select(
        "doc_id",
        F.explode(_tokens(F.lower(F.trim(F.col("text"))))).alias("word"),
    ).where(F.col("word") != "")
    counts = final.select("word", bpe.sym_count(F.col("sym")).alias("_k"))
    return (
        occ.join(counts, "word")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("_k").cast("bigint").alias("n_bpe_tokens"),
            (
                F.sum("_k").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("fertility"),
        )
    )


_NORM_HEALTH_ORACLE = f"""
WITH per AS (
  SELECT label,
         CASE WHEN len(list_filter(embedding,
                                   x -> isnan(x) OR isinf(x))) > 0
              THEN 1 ELSE 0 END AS bad,
         CASE WHEN len(list_filter(embedding,
                                   x -> isnan(x) OR isinf(x))) > 0
              THEN -1
              ELSE CAST(floor(sqrt({_DOT.format(a="embedding", b="embedding")})
                              * 1000000.0) AS BIGINT) END AS norm_u
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN norm_u = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_norm,
       CAST(SUM(bad) AS BIGINT) AS n_nonfinite,
       MIN(norm_u) AS min_norm_u,
       MAX(norm_u) AS max_norm_u,
       CAST(SUM(norm_u) AS BIGINT) AS sum_norm_u
FROM per GROUP BY label
"""


@register("embedding_norm_health", _NORM_HEALTH_ORACLE)
def q_embedding_norm_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-batch health QC per label: vector count, near-zero-norm
    count (norm < 1e-6 — dead encoder outputs), non-finite count
    (NaN/Inf components — the classic fp16-overflow symptom), and
    exact-quantized norm min/max/sum (floor(norm x 1e6); the left-fold
    dot and IEEE sqrt are bit-identical cross-engine, so the floor has
    no tie mode). Collapsed norms or a nonzero NaN count mean the
    embedding run is broken and every ANN/SemDeDup decision downstream
    inherits it — this is the gate before any of them run.

    Scale shape: one scan, one combinable groupBy(label); all state is
    integers."""
    return similarity.norm_health(load_table(spark, sf_dir, "embeddings"))


_DECON_SIZES = (4, 8, 13)


def _decon_curve_oracle() -> str:
    legs = []
    for n in _DECON_SIZES:
        legs.append(f"""
tg_{n} AS (
  SELECT DISTINCT doc_id, unnest({_ngram_list_sql(n)}) AS gram
  FROM documents WHERE {_EVAL_HASH} % 20 <> 0
),
eg_{n} AS (
  SELECT DISTINCT unnest({_ngram_list_sql(n)}) AS gram
  FROM documents WHERE {_EVAL_HASH} % 20 = 0
),
leg_{n} AS (
  SELECT CAST({n} AS BIGINT) AS ngram_n,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated_docs,
         CAST(SUM(c) AS BIGINT) AS n_gram_hits,
         CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS contamination_rate
  FROM (
    SELECT t.doc_id, COUNT(e.gram) AS c
    FROM tg_{n} t LEFT JOIN eg_{n} e USING (gram)
    GROUP BY t.doc_id
  )
)""")
    union = "\nUNION ALL\n".join(f"SELECT * FROM leg_{n}" for n in _DECON_SIZES)
    return f"WITH {','.join(legs)}\n{union}"


@register("decontamination_ngram_curve", _decon_curve_oracle(), eager=True)
def q_decontamination_ngram_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination sensitivity curve: train-vs-eval overlap at
    n-gram sizes 4 / 8 / 13 (the GPT-3 appendix used 13; stricter
    pipelines use 8; 4 is the paranoid bound). The n that the
    contamination rate elbows at IS the filter-tuning decision — too
    small flags common phrases, too large misses paraphrased leaks.

    Scale shape (round 10, VERDICT r9 item 4 — replacing the x3
    independent contamination() legs, each of which re-tokenized the
    corpus and shuffled its full gram multiset through a distinct +
    groupBy): ONE persisted pass builds the per-doc DISTINCT gram-hash
    arrays for all three n IN-ROW (dedup.word_ngram_hash_arrays — no
    gram ever crosses an exchange just to dedup), then one leg-tagged
    nested explode feeds (a) the eval-side distinct hit set (corpus/20,
    broadcast) and (b) the train-side per-doc hit counts, whose
    groupBy(ngram_n, doc_id) partial-aggregates to ~3 rows per doc
    before its only exchange. Measured 22.7 -> 12.9 s at the 100x
    stress corpus; exact at 3 SFs; oracle unchanged. eager=True: the
    builder materializes the persisted gram-array stage."""
    docs = load_table(spark, sf_dir, "documents")
    base = eager(
        persist(
            dedup.word_ngram_hash_arrays(
                docs.select(
                    "doc_id", curation.eval_split_pred().alias("_eval"), "text"
                ),
                _DECON_SIZES,
                extra_cols=("_eval",),
            )
        )
    )
    legs_arr = F.array(
        *[
            F.struct(
                F.lit(n).cast("long").alias("ngram_n"),
                F.col(f"_g{n}").alias("g"),
            )
            for n in _DECON_SIZES
        ]
    )
    ex = (
        base.select("doc_id", "_eval", F.explode(legs_arr).alias("L"))
        .select("doc_id", "_eval", "L.ngram_n", F.explode(F.col("L.g")).alias("sh"))
    )
    hits = (
        ex.where(F.col("_eval"))
        .select("ngram_n", "sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    per_doc = (
        ex.where(~F.col("_eval"))
        .join(F.broadcast(hits), ["ngram_n", "sh"], "left")
        .groupBy("ngram_n", "doc_id")
        .agg(F.count(F.lit(1)).alias("n"), F.count("hit").alias("c"))
    )
    out = per_doc.groupBy("ngram_n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("c") > 0).cast("int")).cast("bigint").alias(
            "n_contaminated_docs"
        ),
        F.sum("c").cast("bigint").alias("n_gram_hits"),
        (
            F.sum((F.col("c") > 0).cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("contamination_rate"),
    )
    return own(out, "decontamination_ngram_curve", base)


# ---------------------------------------------------------------------------
# Round-5d batch 11: embedding geometry + vocabulary statistics
# ---------------------------------------------------------------------------

_ANISOTROPY_ORACLE = """
WITH base AS (
  SELECT label, embedding,
         sqrt({dot}) AS nrm
  FROM embeddings
  WHERE sqrt({dot}) > 0
),
comp0 AS (
  SELECT label, nrm,
         unnest(generate_series(1, len(embedding))) AS dim,
         unnest(embedding) AS v
  FROM base
),
comp AS (
  SELECT label, dim,
         CAST(floor((CAST(v AS DOUBLE) / nrm) * 1000000.0)
              AS DECIMAL(18,0)) AS uq
  FROM comp0
),
sums AS (
  SELECT label, dim, CAST(SUM(uq) AS DECIMAL(18,0)) AS s
  FROM comp GROUP BY label, dim
),
ss AS (
  SELECT label, SUM(CAST(s * s AS DECIMAL(37,0))) AS sumsq
  FROM sums GROUP BY label
),
cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM base GROUP BY label)
SELECT c.label, c.n_vecs,
       (CAST(s.sumsq AS DOUBLE) / 1000000000000.0 - CAST(c.n_vecs AS DOUBLE))
         / CAST(c.n_vecs * (c.n_vecs - 1) AS DOUBLE) AS avg_pairwise_cosine
FROM cnt c JOIN ss s ON s.label = c.label
WHERE c.n_vecs >= 2
""".format(dot=_DOT.format(a="embedding", b="embedding"))


@register("embedding_anisotropy", _ANISOTROPY_ORACLE)
def q_embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding anisotropy: the expected pairwise cosine
    within a label, via the unit-sum identity
    avg_{i != j} cos(x_i, x_j) = (|sum u_i|^2 - n) / (n(n-1)) with
    u = x/|x| — Ethayarajh (EMNLP 2019)'s anisotropy diagnostic without
    materializing a single pair. High anisotropy across ALL labels means
    the encoder collapsed into a narrow cone (every cosine looks ~0.9
    and ANN/SemDeDup thresholds are meaningless); per-label values show
    cluster tightness. Unit components quantize once (floor(u x 1e6):
    the per-row norm divide is IEEE-identical cross-engine, floor has no
    tie mode), so the metric is the exactly-defined quantized estimator
    — both engines compute the identical number.

    Scale shape: scan-side posexplode -> ONE combinable groupBy(label,
    dim) collapsing the corpus to |labels| x dim rows; everything after
    is tiny exact-decimal arithmetic (the source_centroid_cosine
    precision ladder: DECIMAL(18,0) sums, (37,0) squares)."""
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = similarity.norm(F.col("embedding"))
    base = emb.where(nrm > 0).select(
        "label", "embedding", nrm.alias("_n")
    )
    comp = base.select(
        "label", "_n", F.posexplode("embedding").alias("dim", "_v")
    ).select(
        "label",
        "dim",
        F.floor((F.col("_v").cast("double") / F.col("_n")) * F.lit(1000000.0))
        .cast("decimal(18,0)")
        .alias("uq"),
    )
    sums = comp.groupBy("label", "dim").agg(
        F.sum("uq").cast("decimal(18,0)").alias("s")
    )
    ss = sums.groupBy("label").agg(
        F.sum((F.col("s") * F.col("s")).cast("decimal(37,0)")).alias("sumsq")
    )
    cnt = base.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    return (
        cnt.join(F.broadcast(ss), "label")
        .where(F.col("n_vecs") >= 2)
        .select(
            "label",
            "n_vecs",
            (
                (
                    F.col("sumsq").cast("double") / F.lit(1000000000000.0)
                    - F.col("n_vecs").cast("double")
                )
                / (F.col("n_vecs") * (F.col("n_vecs") - 1)).cast("double")
            ).alias("avg_pairwise_cosine"),
        )
    )


_ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT lang, unnest({_TOKS}) AS token FROM documents
),
tok2 AS (SELECT lang, token FROM tok WHERE token <> ''),
c AS (SELECT lang, token, COUNT(*) AS n FROM tok2 GROUP BY 1, 2),
r AS (
  SELECT lang, n,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n DESC, token) AS rk
  FROM c
),
head AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_top100
  FROM r WHERE rk <= 100 GROUP BY lang
),
tot AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens_total,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens
  FROM c GROUP BY lang
)
SELECT t.lang, t.n_tokens_total, t.n_distinct_tokens, h.n_top100,
       CAST(h.n_top100 AS DOUBLE) / CAST(t.n_tokens_total AS DOUBLE)
         AS head_share
FROM tot t JOIN head h ON h.lang = t.lang
"""


@register("zipf_head_share", _ZIPF_ORACLE)
def q_zipf_head_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head concentration per language: the fraction of all token
    occurrences held by the top-100 types — the transcendental-free
    Zipf audit (a healthy natural-language corpus concentrates ~40-60%
    in the head; near-1.0 means templated/boilerplate text, near-0
    means shredded or non-linguistic content). Directly feeds vocab
    sizing: head_share is what a V=100 vocabulary would cover.

    Scale shape: one token explode into a combinable (lang, token)
    count; the vocab-sized count table persists once and feeds the
    two-phase grouped top-k (retrieval.grouped_topk — no single-task
    window even for a dominant language) and the per-lang totals; the
    final join is |langs|-sized and broadcast."""
    from mdio_python_spark.operators import retrieval

    docs = load_table(spark, sf_dir, "documents")
    # round 11 measured-and-rejected: the n=1 Arrow multiset kernel was
    # 0.42 -> 0.80 s here (single tokens are one codegen explode + a
    # map-side-combined count; the Python boundary costs more than the
    # exchange it shrinks) — the explode path stays
    tok = docs.select(
        "lang",
        F.explode(text.tokens(F.lower(F.trim(F.col("text"))))).alias("token"),
    ).where(F.col("token") != "")
    counts = persist(tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("n")))
    top = retrieval.grouped_topk(counts, ["lang"], "n", "token", k=100)
    head = top.groupBy("lang").agg(F.sum("n").cast("bigint").alias("n_top100"))
    tot = counts.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_tokens_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_tokens"),
    )
    out = tot.join(F.broadcast(head), "lang").select(
        "lang",
        "n_tokens_total",
        "n_distinct_tokens",
        "n_top100",
        (
            F.col("n_top100").cast("double")
            / F.col("n_tokens_total").cast("double")
        ).alias("head_share"),
    )
    return own(out, "llm.zipf_head_share", counts)


_LABEL_MARGIN_ORACLE = """
WITH comp0 AS (
  SELECT label AS c_label,
         unnest(generate_series(1, len(embedding))) AS dim,
         unnest(embedding) AS v
  FROM embeddings
),
sums AS (
  SELECT c_label, dim,
         CAST(SUM(CAST(floor(CAST(v AS DOUBLE) * 1000000.0)
                       AS DECIMAL(10,0))) AS DECIMAL(18,0)) AS s
  FROM comp0 GROUP BY c_label, dim
),
cents AS (
  SELECT c_label, list(s ORDER BY dim) AS c_arr,
         SUM(CAST(s * s AS DECIMAL(37,0))) AS cn2
  FROM sums GROUP BY c_label
),
base AS (
  SELECT vec_id, label AS own_label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0)
                     AS DECIMAL(10,0))) AS xq
  FROM embeddings
),
basen AS (
  SELECT vec_id, own_label, xq,
         list_reduce(
           list_prepend(CAST(0 AS DECIMAL(38,0)),
             list_transform(xq, a -> CAST(a * a AS DECIMAL(21,0)))),
           (x, y) -> x + y) AS xn2
  FROM base
),
scored AS (
  SELECT b.vec_id, b.own_label, c.c_label,
         CAST(list_reduce(
                list_prepend(CAST(0 AS DECIMAL(38,0)),
                  list_transform(generate_series(1, len(b.xq)),
                    i -> CAST(b.xq[i] * c.c_arr[i] AS DECIMAL(29,0)))),
                (x, y) -> x + y) AS DOUBLE)
           / (sqrt(CAST(b.xn2 AS DOUBLE)) * sqrt(CAST(c.cn2 AS DOUBLE)))
           AS cosv
  FROM basen b CROSS JOIN cents c
  WHERE b.xn2 > 0
),
per_vec AS (
  SELECT vec_id, own_label,
         MAX(CASE WHEN c_label = own_label THEN cosv END) AS own,
         MAX(CASE WHEN c_label <> own_label THEN cosv END) AS other
  FROM scored GROUP BY vec_id, own_label
)
SELECT own_label AS label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(CASE WHEN own > other THEN 1 ELSE 0 END) AS BIGINT)
         AS n_positive_margin,
       CAST(SUM(CASE WHEN own > other THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS margin_share
FROM per_vec
WHERE other IS NOT NULL
GROUP BY own_label
"""


@register("embedding_label_margin", _LABEL_MARGIN_ORACLE)
def q_embedding_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-separability audit (silhouette-lite): per label, the share
    of members whose cosine to their OWN label centroid beats their best
    cosine to any OTHER label's centroid — run before trusting labels
    for cluster-purity metrics or classifier training data. All
    arithmetic before the final IEEE cosine chain is exact decimal, so
    the margin comparisons are bit-identical cross-engine
    (operators/similarity.py:label_margin documents the ladder and the
    broadcast/map-side-combine plan shape)."""
    return similarity.label_margin(load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Round-5d batch 12: pipeline QC compositions (packing, retrieval legs)
# ---------------------------------------------------------------------------


@register(
    "packing_boundary_stats",
    f"""
    WITH d AS (
      SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS BIGINT) AS cum_before
      FROM d WHERE n_tokens > 0
    ),
    p AS (
      SELECT n_tokens,
             (cum_before + n_tokens - 1) // 2048
               - cum_before // 2048 + 1 AS n_seqs_spanned
      FROM c
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST((SUM(n_tokens) + 2047) // 2048 AS BIGINT) AS n_sequences,
           CAST(SUM(CASE WHEN n_seqs_spanned > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_crossing_docs,
           CAST(SUM(CASE WHEN n_seqs_spanned > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS crossing_rate,
           CAST(CASE WHEN SUM(n_tokens) % 2048 = 0 THEN 2048
                     ELSE SUM(n_tokens) % 2048 END AS BIGINT)
             AS last_seq_fill
    FROM p
    """,
)
def q_packing_boundary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing QC over the 2048-token training stream: document count
    and token mass, sequence count, boundary-crossing documents (split
    across sequences — they lose attention context at the cut; the
    crossing RATE is what decides pad-vs-split policy), and the final
    sequence's fill. One combinable 1-row aggregate over the
    range-partitioned prefix-sum DAG (operators/packing.py — the global
    ordinal never serializes through one task)."""
    from mdio_python_spark.operators.packing import pack_sequences

    p = pack_sequences(load_table(spark, sf_dir, "documents"), 2048)
    crossing = (F.col("n_seqs_spanned") > 1).cast("int")
    agg = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum(crossing).cast("bigint").alias("n_crossing_docs"),
    )
    return agg.select(
        "n_docs",
        "n_tokens",
        F.expr("(n_tokens + 2047) DIV 2048").cast("bigint").alias("n_sequences"),
        "n_crossing_docs",
        (
            F.col("n_crossing_docs").cast("double")
            / F.col("n_docs").cast("double")
        ).alias("crossing_rate"),
        F.when(F.col("n_tokens") % 2048 == 0, F.lit(2048))
        .otherwise(F.col("n_tokens") % 2048)
        .cast("bigint")
        .alias("last_seq_fill"),
    )


def _leg_agreement_oracle() -> str:
    cos = _IVF_COS.format(a="embedding", b="q_vec")
    return f"""
    WITH {_bm25_oracle(k=20, final_select=False)},
    q AS (SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0),
    vec_scored AS (
      SELECT vec_id AS doc_id, {cos} AS cos
      FROM embeddings, q WHERE vec_id <> 0
    ),
    vec AS (
      SELECT doc_id, rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rank
        FROM vec_scored
      ) WHERE rank <= 20
    ),
    j AS (
      SELECT l.doc_id, l.rank AS rl, v.rank AS rv
      FROM lex l JOIN vec v USING (doc_id)
    )
    SELECT CAST(20 AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST(COUNT(*) AS DOUBLE) / CAST(40 - COUNT(*) AS DOUBLE)
             AS jaccard_at_k,
           CAST(COALESCE(SUM(ABS(rl - rv)), 0) AS BIGINT) AS sum_rank_gap
    FROM j
    """


@register("retrieval_leg_agreement", _leg_agreement_oracle())
def q_retrieval_leg_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval leg agreement: overlap (Jaccard@20) and rank
    displacement between the BM25 top-20 and the cosine top-20 for the
    fixed query pair — the QC that decides whether RRF fusion is doing
    work (near-total overlap: the vector leg adds nothing; near-zero:
    the fusion constant dominates and needs tuning). Same two retriever
    DAGs as hybrid_search_rrf (both corpus-shuffle-free), one tiny
    inner join and a 1-row aggregate on top."""
    from mdio_python_spark.operators.ranking import constant_partition
    from mdio_python_spark.operators.retrieval import bm25_topk
    from mdio_python_spark.operators.similarity import _lfold_norm, _lit_vec
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    lex = bm25_topk(docs, _BM25_TERMS, k=20).select(
        "doc_id", F.col("rank").alias("rl")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).head()["embedding"]]
    scored = emb.where(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("doc_id"),
        (
            similarity.dot(F.col("embedding"), _lit_vec(qv))
            / (similarity.norm(F.col("embedding")) * F.lit(_lfold_norm(qv)))
        ).alias("cos"),
    )
    w = Window.partitionBy(constant_partition("doc_id")).orderBy(
        F.col("cos").desc(), F.col("doc_id")
    )
    vec = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 20)
        .select("doc_id", F.col("rank").alias("rv"))
    )
    j = lex.join(vec, "doc_id")
    agg = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.coalesce(F.sum(F.abs(F.col("rl") - F.col("rv"))), F.lit(0))
        .cast("bigint")
        .alias("sum_rank_gap"),
    )
    return agg.select(
        F.lit(20).cast("bigint").alias("k"),
        "n_common",
        (
            F.col("n_common").cast("double")
            / (F.lit(40) - F.col("n_common")).cast("double")
        ).alias("jaccard_at_k"),
        "sum_rank_gap",
    )


# ---------------------------------------------------------------------------
# Round-5d batch 13: split / hash / shard health audits
# ---------------------------------------------------------------------------


@register(
    "eval_split_balance",
    f"""
    WITH b AS (
      SELECT source, lang,
             CASE WHEN {_EVAL_HASH} % 20 = 0 THEN 1 ELSE 0 END AS is_eval
      FROM documents
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_eval) AS BIGINT) AS n_eval,
           CAST(SUM(is_eval) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS eval_share
    FROM b GROUP BY source, lang
    """,
)
def q_eval_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-split bias audit: the held-out eval split's share per
    (source, lang) stratum — every decontamination / DSIR / leakage
    query in this registry trusts that the salted-hash split is an
    unbiased ~1/20 of EVERY stratum, and this is the table that checks
    it (a stratum far from 0.05 means id structure correlates with the
    hash — the split salt must change). One scan, one combinable
    groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    is_eval = curation.eval_split_pred().cast("int")
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(is_eval).cast("bigint").alias("n_eval"),
        (F.sum(is_eval).cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "eval_share"
        ),
    )


@register(
    "simhash_bit_balance",
    f"""
    WITH {_simhash_cte(16)},
    bits AS (
      SELECT b.bit, (s.simhash >> b.bit) & 1 AS v
      FROM sim s CROSS JOIN (
        SELECT unnest(generate_series(0, 15)) AS bit
      ) b
    )
    SELECT CAST(bit AS BIGINT) AS bit,
           CAST(SUM(v) AS BIGINT) AS n_set,
           CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS set_share
    FROM bits GROUP BY bit
    """,
)
def q_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-health audit for the SimHash family: per signature bit, the
    fraction of documents with the bit set. Every banding scheme's
    collision math assumes ~uniform bits; a stuck or skewed bit (share
    far from 0.5) silently halves a band's effective width and floods
    the candidate generator. The 16-element bit explode touches the
    |docs| x 16 projection of the already-computed signature — one
    combinable groupBy(bit)."""
    sim = dedup.simhash(load_table(spark, sf_dir, "documents"), bits=16)
    bits = sim.select(
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("bit"),
        F.col("simhash").alias("_h"),
    ).select("bit", F.expr("shiftright(_h, CAST(bit AS INT)) & 1").alias("v"))
    return bits.groupBy("bit").agg(
        F.sum("v").cast("bigint").alias("n_set"),
        (F.sum("v").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "set_share"
        ),
    )


@register(
    "shard_balance_qc",
    f"""
    WITH m AS (
      SELECT {sql_hash64("'shard' || CAST(doc_id AS VARCHAR)")} % 16 AS shard,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens
      FROM documents
    ),
    per AS (
      SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM m GROUP BY shard
    ),
    t AS (SELECT SUM(n_tokens) AS total FROM per)
    SELECT shard, n_docs, n_tokens,
           CAST(n_tokens * 16 AS DOUBLE) / CAST(total AS DOUBLE)
             AS token_load_factor
    FROM per, t
    """,
)
def q_shard_balance_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance audit for the epoch-shuffle manifest: docs and
    token mass per shard with the token load factor (1.0 = perfectly
    balanced) — the straggler check before a training run trusts the
    16-shard layout (readers advance in lockstep, so epoch time is the
    SLOWEST shard's token count). Same salted shard hash as
    training_order_manifest; one scan, one combinable groupBy into a
    PERSISTED 16-row table (persist-the-fork: the broadcast total must
    not re-run the corpus scan — round-5 advisor item), one broadcast
    total."""
    from mdio_python_spark.operators.curation import split_hash

    docs = load_table(spark, sf_dir, "documents")
    per = persist(
        docs.select(
            split_hash(F.col("doc_id"), "shard", 16).alias("shard"),
            text.token_count(F.col("text")).alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
    t = per.agg(F.sum("n_tokens").alias("_total"))
    out = per.crossJoin(F.broadcast(t)).select(
        "shard",
        "n_docs",
        "n_tokens",
        (
            (F.col("n_tokens") * F.lit(16)).cast("double")
            / F.col("_total").cast("double")
        ).alias("token_load_factor"),
    )
    return own(out, "llm.shard_balance_qc", per)


# ---------------------------------------------------------------------------
# Round-5d batch 14: the ANN method shootout
# ---------------------------------------------------------------------------


def _shootout_oracle() -> str:
    from mdio_python_spark.operators.similarity import sql_random_project

    exact_cos = (
        f"{_DOT.format(a='q_vec', b='c_vec')}"
        f" / (sqrt({_DOT.format(a='q_vec', b='q_vec')})"
        f" * sqrt({_DOT.format(a='c_vec', b='c_vec')}))"
    )
    frags = sql_random_project(out_dim=8, in_dim=64)
    rp_cols = ", ".join(f"{frag} AS rp_{j}" for j, frag in enumerate(frags))
    rp_bucket = " + ".join(
        f"CASE WHEN rp_{j} > 0 THEN {2**j} ELSE 0 END" for j in range(8)
    )

    def topk_cte(scored: str) -> str:
        return f"""(
  SELECT query_id, candidate_id FROM (
    SELECT query_id, candidate_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, candidate_id) AS rnk
    FROM {scored}
  ) WHERE rnk <= 10
)"""

    def agg_cte(name: str, label: str) -> str:
        return f"""(
  SELECT '{label}' AS method,
         CAST(COUNT(*) AS BIGINT) AS n_exact,
         CAST(SUM(CASE WHEN t.candidate_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hits,
         CAST(SUM(CASE WHEN t.candidate_id IS NOT NULL THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall
  FROM exact_topk e
  LEFT JOIN {name} t
    ON t.query_id = e.query_id AND t.candidate_id = e.candidate_id
)"""

    return f"""
WITH eq AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 50
),
ec AS (SELECT vec_id AS candidate_id, embedding AS c_vec FROM embeddings),
exact_scored AS (
  SELECT query_id, candidate_id, {exact_cos} AS cosine
  FROM ec CROSS JOIN eq WHERE query_id <> candidate_id
),
exact_topk AS {topk_cte("exact_scored")},
sq AS (
  SELECT vec_id AS query_id, embedding AS q_vec,
         {_BUCKET_SQL.format(v="embedding")} AS bucket
  FROM embeddings WHERE vec_id < 50
),
sc AS (
  SELECT vec_id AS candidate_id, embedding AS c_vec,
         {_BUCKET_SQL.format(v="embedding")} AS bucket
  FROM embeddings
),
sign_scored AS (
  SELECT query_id, candidate_id, {exact_cos} AS cosine
  FROM sc JOIN sq USING (bucket) WHERE query_id <> candidate_id
),
sign_topk AS {topk_cte("sign_scored")},
mq AS ({_multiband_cte("mq", "query_id", "q_vec", "WHERE vec_id < 50")}),
mc AS ({_multiband_cte("mc", "candidate_id", "c_vec", "")}),
mb_matched AS (
  SELECT query_id, candidate_id, band_id, {exact_cos} AS cosine
  FROM mc JOIN mq USING (band_id, bucket) WHERE query_id <> candidate_id
),
mb_pairs AS (
  SELECT query_id, candidate_id, MAX(cosine) AS cosine
  FROM mb_matched GROUP BY query_id, candidate_id
),
mb_topk AS {topk_cte("mb_pairs")},
rp_proj AS (SELECT vec_id, embedding, {rp_cols} FROM embeddings),
rp_b AS (
  SELECT vec_id, embedding, CAST({rp_bucket} AS BIGINT) AS bucket FROM rp_proj
),
rq AS (
  SELECT vec_id AS query_id, embedding AS q_vec, bucket
  FROM rp_b WHERE vec_id < 50
),
rc AS (SELECT vec_id AS candidate_id, embedding AS c_vec, bucket FROM rp_b),
rp_scored AS (
  SELECT query_id, candidate_id, {exact_cos} AS cosine
  FROM rc JOIN rq USING (bucket) WHERE query_id <> candidate_id
),
rp_topk AS {topk_cte("rp_scored")},
cent AS (
  SELECT vec_id AS cid, embedding AS cent_vec FROM embeddings WHERE vec_id < 16
),
assign AS (
  SELECT vec_id, embedding, CAST(cid AS BIGINT) AS cell
  FROM embeddings, cent
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id
    ORDER BY {_IVF_COS.format(a="embedding", b="cent_vec")} DESC, cid) = 1
),
probes AS (
  SELECT q.vec_id AS query_id, q.embedding AS q_vec, CAST(cid AS BIGINT) AS cell
  FROM embeddings q, cent
  WHERE q.vec_id < 50
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY q.vec_id
    ORDER BY {_IVF_COS.format(a="q.embedding", b="cent_vec")} DESC, cid) <= 4
),
ivf_scored AS (
  SELECT query_id, a.vec_id AS candidate_id,
         {_IVF_COS.format(a="q_vec", b="a.embedding")} AS cosine
  FROM assign a JOIN probes p ON a.cell = p.cell
  WHERE query_id <> a.vec_id
),
ivf_topk AS {topk_cte("ivf_scored")},
agg_sign AS {agg_cte("sign_topk", "sign_bucket")},
agg_mb AS {agg_cte("mb_topk", "multiband")},
agg_rp AS {agg_cte("rp_topk", "rp_bucket")},
agg_ivf AS {agg_cte("ivf_topk", "ivf_nprobe4")}
SELECT * FROM agg_sign
UNION ALL SELECT * FROM agg_mb
UNION ALL SELECT * FROM agg_rp
UNION ALL SELECT * FROM agg_ivf
"""


@register("ann_method_shootout", _shootout_oracle(), eager=True)
def q_ann_method_shootout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'which index do I deploy' table: aggregate recall@10 of every
    ANN method the engine ships — axis-aligned sign buckets, 4-band
    hyperplane OR-amplification, JL random-projection buckets, and
    IVF-flat at nprobe=4 — against ONE persisted exact brute-force
    top-10 over the sampled query set. ann_tuning_curve sweeps one
    method's knob; this compares the methods at fixed budget, which is
    the decision actually made first.

    Scale shape: the four candidate generators are the existing bucketed
    legs (each corpus-side prunable by its bucket/cell key); the exact
    leg persists once and feeds all four 1-row leg aggregates
    (persist-the-fork — four consumers); each leg join touches
    n_queries x 10 rows per side with the ANN side broadcast."""
    from pyspark.sql import Window

    from mdio_python_spark.operators.similarity import random_project, sign_bucket

    from mdio_python_spark.operators.vector_arrow import cosine_topk_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 50)
    # round 10b: exact leg on the vectorized left-fold kernel
    # (bit-identical); eager=True — construction collects the query
    # sample (round-5 rule)
    exact = persist(
        cosine_topk_arrow(qs, emb, k=10).select("query_id", "candidate_id")
    )

    sign = similarity.bucketed_topk(qs, emb, k=10, bits=6).select(
        "query_id", "candidate_id"
    )
    multi = similarity.multiband_topk(qs, emb, k=10, bits=6, bands=4).select(
        "query_id", "candidate_id"
    )
    proj = random_project(emb, out_dim=8, in_dim=64).withColumn(
        "bucket",
        sign_bucket("array(" + ",".join(f"rp_{j}" for j in range(8)) + ")", 8),
    )
    rq = proj.where(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        "bucket",
    )
    rc = proj.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("embedding").alias("c_vec"),
        "bucket",
    )
    rp_scored = (
        rc.join(F.broadcast(rq), "bucket")
        .where(F.col("query_id") != F.col("candidate_id"))
        .select(
            "query_id",
            "candidate_id",
            # same tree as similarity.cosine(), built as ONE
            # server-parsed SQL string (the round-10 F.expr rule)
            F.expr(similarity._sql_cosine("`q_vec`", "`c_vec`")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("candidate_id")
    )
    rp = (
        rp_scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .select("query_id", "candidate_id")
    )
    ivf = similarity.ivf_topk(qs, emb, k=10, n_centroids=16, nprobe=4).select(
        "query_id", "candidate_id"
    )

    def leg(approx: DataFrame, label: str) -> DataFrame:
        hit = approx.withColumn("_hit", F.lit(1))
        return (
            exact.join(F.broadcast(hit), ["query_id", "candidate_id"], "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_exact"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                .cast("bigint")
                .alias("n_hits"),
            )
            .select(
                F.lit(label).alias("method"),
                "n_exact",
                "n_hits",
                (
                    F.col("n_hits").cast("double")
                    / F.col("n_exact").cast("double")
                ).alias("recall"),
            )
        )

    out = (
        leg(sign, "sign_bucket")
        .unionAll(leg(multi, "multiband"))
        .unionAll(leg(rp, "rp_bucket"))
        .unionAll(leg(ivf, "ivf_nprobe4"))
    )
    return own(out, "llm.ann_method_shootout", exact)


# ---------------------------------------------------------------------------
# Round 6: sqrt(n)-scaled cell configurations (VERDICT r5 item 4)
#
# The declared knn_graph_hubness / semantic_dedup_drops pin n_centroids=16
# (oracle-mirrored), which bounds the kNN cell join at |cells| x salt keys
# and makes the 100x stress point cap-bound linear. Production IVF grows
# cells ~ sqrt(n); these variants exercise that configuration end-to-end:
# cells = max(16, floor(sqrt(|corpus|))), assignment via the broadcast
# centroid-TABLE strategy (ivf_cell_assignments_join — a k~hundreds literal
# tree would degrade codegen), everything downstream unchanged. eager=True:
# the cell count derives from a corpus count at build time.
# ---------------------------------------------------------------------------

_SCALED_NC_CTE = """nc AS (
  SELECT GREATEST(16, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS k
  FROM embeddings
)"""


def _scaled_assign_ctes() -> str:
    """Dynamic-cell assignment CTEs: centroid prefix sized by the corpus
    count, zero-norm vectors excluded (the ivf_cell_assignments_join
    convention, mirrored)."""
    return f"""{_SCALED_NC_CTE},
cent AS (
  SELECT vec_id AS cid, embedding AS cent_vec FROM embeddings
  WHERE vec_id < (SELECT k FROM nc)
),
live AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE {_DOT.format(a="embedding", b="embedding")} > 0
),
assign AS (
  SELECT vec_id, embedding, CAST(cid AS BIGINT) AS cell
  FROM live, cent
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id
    ORDER BY {_IVF_COS.format(a="embedding", b="cent_vec")} DESC, cid) = 1
)"""


_HUBNESS_SCALED_ORACLE = f"""
WITH {_scaled_assign_ctes()},
members AS (
  SELECT vec_id, embedding, cell,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
  FROM assign
),
topk AS (
  SELECT query_id, candidate_id FROM (
    SELECT q.vec_id AS query_id, a.vec_id AS candidate_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY {_IVF_COS.format(a="q.embedding", b="a.embedding")} DESC,
                      a.vec_id) AS rnk
    FROM assign q JOIN members a
      ON a.cell = q.cell AND a.vec_id <> q.vec_id AND a.rn <= 1024
  ) WHERE rnk <= 10
),
indeg AS (SELECT candidate_id, COUNT(*) AS n FROM topk GROUP BY candidate_id),
deg AS (
  SELECT e.vec_id, COALESCE(i.n, 0) AS in_degree
  FROM embeddings e LEFT JOIN indeg i ON i.candidate_id = e.vec_id
)
SELECT CAST(in_degree AS BIGINT) AS in_degree,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM deg GROUP BY in_degree
"""


@register("knn_graph_hubness_scaled", _HUBNESS_SCALED_ORACLE, eager=True)
def q_knn_graph_hubness_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness QC of the kNN graph under the PRODUCTION cell sizing:
    cells = max(16, floor(sqrt(n))) so expected cell population — and the
    per-cell pair fan-out the hot-cell cap guards — stays ~sqrt(n) as the
    corpus grows, and the cell-key count grows with the data instead of
    capping parallelism at 128 keys (the r5 stress asymptote).

    Round 8 (VERDICT r7 watch item 1): the graph build executes on the
    Arrow kernels (operators/vector_arrow.knn_graph_arrow) — a
    strategy-only swap, output bit-identical to similarity.knn_graph
    (pinned by tests/test_vector_arrow.py; this oracle is unchanged).
    The sqrt(n)-cell pair count stays ~n^1.5 — that is the disclosed
    complexity of the growing-cells config — but each fold-cosine costs
    ~1e-9 s instead of the interpreted HOF path's ~1e-6 s, which is what
    the 259 s 100x row was actually made of."""
    import math

    from mdio_python_spark.operators import vector_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k_cells = max(16, int(math.floor(math.sqrt(n))))
    g = vector_arrow.knn_graph_arrow(emb, k=10, n_centroids=k_cells)
    indeg = g.groupBy("candidate_id").agg(F.count(F.lit(1)).alias("_n"))
    deg = (
        emb.select("vec_id")
        .join(indeg.withColumnRenamed("candidate_id", "vec_id"), "vec_id", "left")
        .select(
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("in_degree")
        )
    )
    return deg.groupBy("in_degree").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )


_SEMDEDUP_SCALED_ORACLE = f"""
WITH {_scaled_assign_ctes()},
members AS (
  SELECT vec_id, embedding, cell,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
  FROM assign
),
verified AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM members a JOIN members b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
   AND a.rn <= 1024 AND b.rn <= 1024
  WHERE {_IVF_COS.format(a="a.embedding", b="b.embedding")} >= 0.3
)
SELECT vec_b AS drop_id, MIN(vec_a) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_near_dups
FROM verified GROUP BY vec_b
"""


@register("semantic_dedup_scaled", _SEMDEDUP_SCALED_ORACLE, eager=True)
def q_semantic_dedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup under the PRODUCTION cell sizing (cells ~ sqrt(n), the
    Abbas et al. deployment shape): per-cell population stays ~sqrt(n),
    so the capped in-cell pair generation keeps a bounded budget as the
    corpus grows instead of saturating 16 fixed cells.

    Round 8: executes on the Arrow kernels
    (operators/vector_arrow.semantic_dedup_arrow) — strategy-only,
    output bit-identical to semantic_dedup_drops (pinned by
    tests/test_vector_arrow.py; oracle unchanged), and the drop
    reduction happens inside each cell task (a vector's whole pair
    neighborhood is cell-local), so the groupBy(cell) exchange is the
    plan's only shuffle."""
    import math

    from mdio_python_spark.operators import vector_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    k_cells = max(16, int(math.floor(math.sqrt(n))))
    return vector_arrow.semantic_dedup_arrow(
        emb, threshold=0.3, n_centroids=k_cells
    )
