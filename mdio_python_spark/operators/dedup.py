"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Beyond-reference surface (BASELINE.json north star). Scale design:

- exact dedup: one hash-groupBy — the canonical map-side-combinable shuffle.
- MinHash+LSH: shingle -> K min-hashes -> band -> bucket self-join. The
  self-join is on (band_id, band_hash), so only *colliding* documents meet;
  at 100 TB the bucket join replaces the quadratic all-pairs comparison.
- SimHash: per-token bit votes aggregated per doc — one groupBy.
- Jaccard verify: shingle-set join restricted to LSH candidate pairs.

All hashes are the md5-based 60-bit ``hash64`` so DuckDB oracles match
bit-for-bit (no murmur3 — Spark's and DuckDB's native hashes differ).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from mdio_python_spark.functions.scalars import hash64
from mdio_python_spark.operators.text import tokens

# Hot-bucket guard (see bucket_pairs): bounds any bucket's pair fan-out at
# cap^2/2 regardless of degenerate keys (empty docs, constant fields).
DEFAULT_MAX_BUCKET_SIZE = 1024


def exact_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup groups: md5(text) -> keeper id + multiplicity."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per exact text hash (semi-join against keepers)."""
    keepers = exact_groups(df, text_col, id_col).select(
        F.col("keep_id").alias(id_col)
    )
    return df.join(keepers, on=id_col, how="left_semi")


def word_shingles(
    df: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles per document (id, shingle).

    ``distinct=True`` gives set semantics (needed for Jaccard counts);
    MinHash callers pass ``distinct=False`` — min over the multiset equals
    min over the set, and skipping the dedup avoids a full shuffle of the
    shingle strings (the largest intermediate in the near-dup pipeline).

    Construction is n whole-array slices + ``arrays_zip`` + one explode —
    all codegen-capable expressions. (The per-position
    ``transform(i -> slice(toks, i, n))`` form is ~4x slower: higher-order
    functions are CodegenFallback, evaluated interpreted.)
    """
    toks = tokens(F.lower(F.col(text_col)))
    n_sh = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, i + 1, n_sh) for i in range(n)])
    exploded = df.select(F.col(id_col), F.explode(zipped).alias("z"))
    fields = [f.name for f in exploded.schema["z"].dataType.fields]
    out = exploded.select(
        F.col(id_col),
        F.concat_ws(" ", *[F.col("z").getField(f) for f in fields]).alias("shingle"),
    )
    return out.distinct() if distinct else out


def word_ngram_hash_arrays(
    df: DataFrame,
    sizes: tuple[int, ...],
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per doc carrying, for every ``n`` in ``sizes``, the array
    ``_g{n}`` of DISTINCT 64-bit hashes of its word n-grams — built
    entirely IN-ROW (slice+zip per n, one ``transform`` hashing each
    position, ``array_distinct``), so a multi-n sweep pays ZERO
    corpus-sized exchanges for per-doc-distinct gram streams: the
    classic per-n ``shingle_hashes(...).distinct()`` shape shuffles the
    whole gram multiset once per n just to dedup within documents.

    INTERNAL-KEY hash rule (the winnowing-pair precedent): callers
    publish only counts/rates, never gram identities, so the hash is
    Spark-native ``xxhash64`` over the n token fields — no concat, no
    md5 — and the DuckDB oracle keeps counting distinct gram STRINGS.
    The two agree because tokens are whitespace-split (they cannot
    contain the separator), so the n-token tuple and the joined gram
    string determine each other bijectively, and ``xxhash64`` is
    length-prefixed per field (no concatenation ambiguity); only a
    64-bit hash collision (~2^-64 per pair) could diverge, same odds
    the ``hash64`` pipeline already carries.

    The per-element ``transform``/``array_distinct`` are interpreted
    (CodegenFallback) — measured 1.8x faster end-to-end than the
    codegen explode path anyway at 100x corpus scale, because the
    exchange they remove dominates. ``extra_cols`` ride through.
    """
    toks = tokens(F.lower(F.col(text_col)))
    out = df.select(F.col(id_col), *extra_cols, toks.alias("_toks"))
    for n in sizes:
        n_sh = F.greatest(F.size("_toks") - F.lit(n - 1), F.lit(0))
        out = out.withColumn(
            f"_z{n}", F.arrays_zip(*[F.slice("_toks", i + 1, n_sh) for i in range(n)])
        )

    def _hasher(fields: list[str]):
        def h(s):
            return F.xxhash64(*[s[f] for f in fields])

        return h

    for n in sizes:
        fields = [
            f.name for f in out.schema[f"_z{n}"].dataType.elementType.fields
        ]
        out = out.withColumn(
            f"_g{n}",
            F.array_distinct(F.transform(F.col(f"_z{n}"), _hasher(fields))),
        )
    return out.select(
        F.col(id_col), *extra_cols, *[f"_g{n}" for n in sizes]
    )


def shingle_hashes(
    df: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = False,
) -> DataFrame:
    """(id, sh) rows — the 60-bit hash of each word n-shingle occurrence.

    The 8-byte hash replaces the shingle *string* as the unit of exchange:
    downstream shuffles/joins move longs, not text, and the md5 is computed
    exactly once per occurrence in the scan stage (not re-evaluated inside
    each aggregate). Collision odds at 60 bits are negligible relative to
    corpus sizes (~2^-60 per pair), and the string-based DuckDB oracles
    remain bit-identical because min/distinct/join results agree whenever
    no collision occurs.
    """
    sh = word_shingles(df, n, text_col, id_col, distinct=False)
    out = sh.select(F.col(id_col), hash64(F.col("shingle")).alias("sh"))
    return out.distinct() if distinct else out


def shingle_sets(shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per-doc sorted DISTINCT shingle-hash arrays ``(id, _set)`` — the
    one-corpus-aggregation stage of the set-array dedup plan (round 9's
    ``char_shingle_near_dup`` reshape, generalized in round 10 to the
    word-shingle LSH family).

    One ``collect_set`` aggregation over the raw (multiset) hashed
    shingle rows replaces THREE corpus-sized aggregations in the
    classic exploded plan: the MinHash ObjectHashAggregate
    (:func:`minhash_signatures_from_sets` derives bit-identical
    signatures from the arrays) and one ``collect_set`` per verify join
    side (:func:`jaccard_pairs_arrays` / ``pair_overlap_counts_arrays``
    accept the same table via ``sets=``). Callers persist + eagerly
    materialize the result (``caching.eager``) so the static planner
    sees measured cache stats. The map-side partial ``collect_set`` is
    effective here — every exploded shingle row of a document lives in
    the partition its source row was scanned in, so the exchange moves
    one (partial = complete) set per doc, not shingle rows.
    """
    key = "shingle" if "shingle" in shingles.columns else "sh"
    if key not in shingles.columns:
        raise ValueError("shingles needs a 'shingle' (string) or 'sh' (long) column")
    return shingles.groupBy(id_col).agg(
        F.sort_array(F.collect_set(F.col(key))).alias("_set")
    )


def mix_constant(k: int) -> int:
    """k-th XOR mixing constant (60-bit, golden-ratio multiples) — shared
    with the DuckDB oracle."""
    return (0x9E3779B97F4A7C15 * (k + 1)) & ((1 << 60) - 1)


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """K min-hash values per doc: one groupBy, K mins — map-side combinable,
    so the shuffle carries K longs per doc regardless of document size.

    One md5 base hash per shingle; the K family members are XOR mixes of it
    (a bijective permutation per seed) — 8x cheaper than K independent md5s,
    and the dominant cost in the near-dup pipeline at scale. Accepts either
    hashed shingles (``sh`` long column from :func:`shingle_hashes` — the
    fast path: the md5 is a materialized projection, the aggregate only
    XORs longs) or raw ``shingle`` strings.
    """
    # Prefer the explicit string column when both exist: a stray unrelated
    # 'sh' column must not silently change the hash source.
    if "shingle" in shingles.columns:
        base_df = shingles.select(
            F.col(id_col), hash64(F.col("shingle")).alias("sh")
        )
    elif "sh" in shingles.columns:
        base_df = shingles
    else:
        raise ValueError("shingles needs a 'shingle' (string) or 'sh' (long) column")
    base = F.col("sh")
    aggs = [
        F.min(base.bitwiseXOR(F.lit(mix_constant(k)))).alias(f"mh_{k}")
        for k in range(num_hashes)
    ]
    return base_df.groupBy(id_col).agg(*aggs)


def minhash_signatures_from_sets(
    sets: DataFrame,
    num_hashes: int = 8,
    id_col: str = "doc_id",
    set_col: str = "_set",
) -> DataFrame:
    """:func:`minhash_signatures` computed from prebuilt per-doc shingle
    SET arrays instead of exploded shingle rows — bit-identical
    signatures (min over the XORed set equals min over the XORed
    multiset; both are signed-long mins). For a caller that already
    aggregates the per-doc sorted set arrays for an array-intersect
    verify (:func:`pair_overlap_counts_arrays`), this removes the
    second corpus-sized aggregation entirely: one collect_set exchange
    feeds signatures AND both verify sides.

    When ``sets`` already carries ``mh_0..mh_{K-1}`` (the Arrow kernel's
    ``minhashes=K`` output — bit-identical mins computed in-map), they
    are selected directly: the K interpreted higher-order ``transform``
    passes over every set array disappear."""
    if all(f"mh_{k}" in sets.columns for k in range(num_hashes)):
        return sets.select(
            F.col(id_col), *[f"mh_{k}" for k in range(num_hashes)]
        )
    aggs = [
        F.array_min(
            F.transform(
                F.col(set_col),
                lambda x: x.bitwiseXOR(F.lit(mix_constant(k))),
            )
        ).alias(f"mh_{k}")
        for k in range(num_hashes)
    ]
    return sets.select(F.col(id_col), *aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Band the signature and self-join on (band, band_hash): docs agreeing
    on ALL rows of any band become candidate pairs (a < b). Hot-bucket
    guard per :func:`bucket_pairs` (``None`` disables)."""
    bands = []
    for band in range(num_hashes // rows_per_band):
        cols = [
            F.col(f"mh_{band * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        bands.append(
            F.struct(
                F.lit(band).alias("band_id"),
                hash64(F.concat_ws("_", *cols)).alias("band_hash"),
            )
        )
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("b")
    ).select(id_col, "b.band_id", "b.band_hash")
    return bucket_pairs(
        banded, ["band_id", "band_hash"], id_col, max_bucket_size=max_bucket_size
    )


def minhash_band_rows(
    signatures: DataFrame,
    num_hashes: int = 8,
    rows_per_band_legs: tuple[int, ...] = (1, 2, 4, 8),
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, leg, band_id, band_hash) rows for EVERY banding configuration
    of one signature table in a single projection — the tuning-sweep twin
    of the per-configuration banding inside :func:`lsh_candidate_pairs`
    (identical band-hash expression, so the two can never drift;
    ``leg`` = rows_per_band). One pass over the signatures replaces one
    banding subtree per configuration — at corpus scale that is one scan
    and one explode instead of |legs| of each."""
    structs = []
    for r in rows_per_band_legs:
        for band in range(num_hashes // r):
            cols = [
                F.col(f"mh_{band * r + i}").cast("string") for i in range(r)
            ]
            structs.append(
                F.struct(
                    F.lit(r).cast("long").alias("leg"),
                    F.lit(band).alias("band_id"),
                    hash64(F.concat_ws("_", *cols)).alias("band_hash"),
                )
            )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*structs)).alias("b")
    ).select(id_col, "b.leg", "b.band_id", "b.band_hash")


def bucket_stats(
    banded: DataFrame,
    bucket_cols: list[str],
    max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """QC companion to :func:`bucket_pairs`: one row of bucket-population
    stats — total buckets, the largest bucket, and how many exceed the cap
    (i.e. will be truncated). Run it when a corpus is suspected of
    degenerate keys (empty docs, constant fields)."""
    sizes = banded.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("n"))
    return sizes.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.max("n").alias("max_bucket_size"),
        F.sum((F.col("n") > max_bucket_size).cast("long")).alias(
            "n_capped_buckets"
        ),
    )


def bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs co-occurring in any bucket.
    ``carry_cols`` (a subset of ``bucket_cols``) ride through to the
    output and scope the distinct — the multi-configuration sweep path
    (one leg-tagged banding pass, per-leg pair sets).

    Pairs are generated *within* each bucket (groupBy + in-array
    combinations) rather than via a self-join: the upstream subtree is
    computed exactly once, and only colliding docs ever meet.

    Hot-bucket guard: a degenerate bucket (empty-doc signature, constant
    field) is quadratic — 1M co-bucketed docs would emit 5e11 pairs and
    hang the stage. Buckets larger than ``max_bucket_size`` contribute
    only their first ``max_bucket_size`` members (deterministic: ids are
    sorted), bounding any bucket at cap²/2 pairs. Members of such a
    bucket are near-identical by construction, so exact dedup upstream is
    the right fix — use :func:`bucket_stats` to see how many buckets were
    capped. ``None`` disables the guard.
    """
    return _bucket_combos(
        banded, bucket_cols, id_col, max_bucket_size, carry_cols=carry_cols
    ).distinct()


def _bucket_combos(
    banded: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket_size: int | None,
    stop_bucket_size: int | None = None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(doc_a < doc_b) rows WITH multiplicity — one row per bucket a pair
    co-occurs in. The single home of the bucket-build + sorted-id
    hot-bucket cap + in-bucket combination expression shared by
    :func:`bucket_pairs` (distinct) and :func:`bucket_pair_counts`
    (counted); oracle ``rn <= cap`` fragments mirror THIS cap.

    ``stop_bucket_size`` is the STOP-KEY rule (distinct from the cap):
    a bucket whose full membership exceeds it is dropped ENTIRELY — the
    MOSS/IR stop-word treatment for keys so common they carry no match
    signal (a winnowing fingerprint present in thousands of documents is
    corpus boilerplate; sampling 1024 of its members — the cap's
    behavior — still emits cap²/2 meaningless pairs per such key).
    Callers that adopt it mirror the rule in their oracle via a
    ``COUNT(*) OVER (PARTITION BY key) <= stop`` guard."""
    ids = F.sort_array(F.collect_list(F.col(id_col)))
    buckets = (
        banded.groupBy(*bucket_cols)
        .agg(ids.alias("ids"))
        .where(F.size("ids") >= 2)
    )
    if stop_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= stop_bucket_size)
    if max_bucket_size is not None:
        buckets = buckets.withColumn(
            "ids", F.slice("ids", 1, max_bucket_size)
        )
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return buckets.select(*carry_cols, F.explode(combos).alias("p")).select(
        *carry_cols, F.col("p.doc_a"), F.col("p.doc_b")
    )


def minhash_agreement_filter(
    pairs: DataFrame,
    signatures: DataFrame,
    num_hashes: int = 8,
    min_agree: int = 3,
    id_col: str = "doc_id",
) -> DataFrame:
    """Discard candidate pairs whose MinHash signatures agree on fewer
    than ``min_agree`` of the ``num_hashes`` components — the free
    Jaccard ESTIMATE the signature already paid for, applied before the
    expensive exact shingle-join verify.

    This is a RECALL KNOB, not an exact bound (unlike the size-ratio
    bound in :func:`pair_overlap_counts`): E[agree/K] = J, so a pair at
    true Jaccard J fails ``min_agree = b_rows + m`` with probability
    ~P[Binom(K - b_rows, J) < m] (the ``b_rows`` hashes of its matching
    LSH band agree by construction). At the default (K=8, 2-row bands,
    min_agree=3) a pair exactly AT a 0.5 threshold is falsely dropped
    with p = 0.5^6 ≈ 1.6%, and a real near-dup at J = 0.9 with p = 1e-6
    — while band collisions between unrelated docs (J ≈ 0, agree = 2)
    drop for free. Production near-dup systems run this exact shape
    (estimate-gate, then verify survivors). Callers that mirror the
    filter in a cross-engine oracle get deterministic, engine-identical
    semantics: both engines compute the same hashes, so the same pairs
    pass.

    Cost: two hash joins of the (LSH-bounded, tiny) pair set against the
    K-longs-per-doc signature table — nothing corpus-sized moves.
    """
    sa = signatures.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"mh_{k}").alias(f"_a{k}") for k in range(num_hashes)],
    )
    sb = signatures.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"mh_{k}").alias(f"_b{k}") for k in range(num_hashes)],
    )
    agree = None
    for k in range(num_hashes):
        term = (F.col(f"_a{k}") == F.col(f"_b{k}")).cast("int")
        agree = term if agree is None else agree + term
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(agree >= F.lit(min_agree))
        .select("doc_a", "doc_b")
    )


def minhash_agreement_counts(
    pairs: DataFrame,
    signatures: DataFrame,
    num_hashes: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_a, doc_b, agree): how many of the ``num_hashes`` MinHash
    components agree for each candidate pair — the raw estimator behind
    :func:`minhash_agreement_filter`'s gate (E[agree/K] = J), exposed as
    a value so QC queries can CALIBRATE the gate against exact Jaccard
    (which agree levels carry real near-dups, how many pairs each level
    would drop) instead of trusting the binomial model blindly.

    Same cost shape as the filter: two hash joins of the LSH-bounded pair
    set against the K-longs-per-doc signature table.
    """
    sa = signatures.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"mh_{k}").alias(f"_a{k}") for k in range(num_hashes)],
    )
    sb = signatures.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"mh_{k}").alias(f"_b{k}") for k in range(num_hashes)],
    )
    agree = None
    for k in range(num_hashes):
        term = (F.col(f"_a{k}") == F.col(f"_b{k}")).cast("int")
        agree = term if agree is None else agree + term
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", agree.cast("int").alias("agree"))
    )


def pair_overlap_counts(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_common, n_a, n_b): exact set-overlap counts for
    candidate pairs via the shingle-set join — the shared core of
    :func:`jaccard_pairs` and :func:`containment_pairs`.

    |A ∩ B| from the equi-join on the shingle key; |A| and |B| from per-doc
    counts (broadcastable). Exact integer arithmetic throughout. Prefers
    the 8-byte ``sh`` hash key (:func:`shingle_hashes`) over raw strings so
    the join shuffle moves longs.

    ``min_jaccard`` applies the PROVABLE size-ratio prefilter before the
    expensive intersection join: J(A,B) <= min(|A|,|B|) / max(|A|,|B|)
    (the intersection is at most the smaller set; the union at least the
    larger), so a pair whose size ratio is already below the threshold
    cannot pass a ``jaccard >= min_jaccard`` filter downstream — dropping
    it here is output-identical BY THEOREM for such callers (monotone
    double rounding preserves <=: rnd(J) <= rnd(bound)). Unlike the
    MinHash estimate gate this discards no borderline pair, at any data
    distribution. Pairs are joined to the per-doc sizes FIRST (tiny join)
    and only survivors expand into the per-shingle intersection join.

    Join-strategy contract (round-7, replacing round-6's blanket
    ``merge`` hints): the shingle and per-doc-size relations here are
    CORPUS-sized. When they sit under an *unmaterialized* cached subtree
    the static planner sees the child's optimistic size estimate — at
    100x it "broadcast" them (a multi-GiB BroadcastExchange that
    exceeded spark.driver.maxResultSize and killed the driver; caught by
    the round-6 stress row), and AQE can never demote a statically
    chosen broadcast. Round 6 fixed that with ``merge`` hints on every
    corpus-sided relation, which also forbade AQE's legitimate runtime
    SMJ->BHJ upgrade when a side IS measured-small (the entire 1.15x
    sf0.1 regression vs r5). Round 7 fixes the STATS instead of the
    strategy: callers that persist the shingle fork must materialize it
    before dependent plan construction (``caching.eager`` — one cheap
    count), so the planner sees MEASURED InMemoryRelation sizes and
    makes the scale-correct choice at every SF: tiny shingle sets
    broadcast, corpus-sized ones sort-merge, and the LSH-bounded pair
    side stays free for AQE's runtime upgrade.
    ``tests/test_query_plans.py::test_pair_overlap_stats_drive_strategy``
    pins the mechanism in both directions.
    """
    # same preference rule as minhash_signatures: explicit strings win
    key = "shingle" if "shingle" in shingles.columns else "sh"
    if key not in shingles.columns:
        raise ValueError("shingles needs a 'shingle' (string) or 'sh' (long) column")
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    sized = pairs.join(
        sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed(
            "n_shingles", "n_a"
        ),
        "doc_a",
    ).join(
        sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed(
            "n_shingles", "n_b"
        ),
        "doc_b",
    )
    if min_jaccard is not None:
        sized = sized.where(
            F.least("n_a", "n_b").cast("double")
            / F.greatest("n_a", "n_b").cast("double")
            >= F.lit(float(min_jaccard))
        )
    a = shingles.withColumnRenamed(id_col, "doc_a")
    b = shingles.withColumnRenamed(id_col, "doc_b")
    return (
        sized.join(a, "doc_a")
        .join(b, ["doc_b", key])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .select("doc_a", "doc_b", "n_common", "n_a", "n_b")
    )


def pair_overlap_counts_arrays(
    pairs: DataFrame,
    shingles: DataFrame | None,
    id_col: str = "doc_id",
    min_jaccard: float | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """:func:`pair_overlap_counts` computed per-pair over COLLECTED
    shingle-set arrays instead of the exploded per-shingle join —
    identical (doc_a, doc_b, n_common, n_a, n_b) integers, different
    physical plan for the regime where candidates outnumber documents.

    The exploded join materializes |pairs| x |doc shingles| rows and
    sort-merges them against the corpus-sized shingle relation — at the
    100x stress corpus, char_shingle_near_dup's 1.2M candidates became
    a 360M-row intermediate joined against 171M shingle rows (86 s, the
    whole query's wall). Here each doc's distinct shingle hashes are
    collected ONCE into a sorted array (exchange-free on the persisted
    doc_id-partitioned fork: collect_set reuses the partitioning), the
    pair list joins the 1-row-per-doc array table twice, and
    ``array_intersect`` scores each pair inside whole-stage codegen.
    Exact-set semantics are built in (collect_set dedups), so callers
    pass the RAW hashed fork — no upstream ``.distinct()`` exchange.

    The same provable ``min_jaccard`` size-ratio prefilter applies
    (identical theorem and rounding as :func:`pair_overlap_counts`).
    Scale note: pair rows carry the two arrays (~2 KB each) between the
    joins — right when |pairs| is LSH-bounded; for pair sets so large
    that |pairs| x set bytes rivals the exploded join, the row-join
    variant stays available.

    ``sets`` short-circuits the per-doc aggregation with a prebuilt
    (persisted) ``(id, _set)`` array table — the path for callers that
    also derive signatures from the same arrays
    (:func:`minhash_signatures_from_sets`): one corpus aggregation
    total instead of one per consumer."""
    if sets is None:
        if shingles is None:
            raise ValueError("pass either shingles rows or prebuilt sets")
        key = "shingle" if "shingle" in shingles.columns else "sh"
        if key not in shingles.columns:
            raise ValueError(
                "shingles needs a 'shingle' (string) or 'sh' (long) column"
            )
        sets = shingles.groupBy(id_col).agg(
            F.sort_array(F.collect_set(F.col(key))).alias("_set"),
        )
    sized = pairs.join(
        sets.select(
            F.col(id_col).alias("doc_a"),
            F.col("_set").alias("_set_a"),
            F.size("_set").alias("n_a"),
        ),
        "doc_a",
    ).join(
        sets.select(
            F.col(id_col).alias("doc_b"),
            F.col("_set").alias("_set_b"),
            F.size("_set").alias("n_b"),
        ),
        "doc_b",
    )
    if min_jaccard is not None:
        sized = sized.where(
            F.least("n_a", "n_b").cast("double")
            / F.greatest("n_a", "n_b").cast("double")
            >= F.lit(float(min_jaccard))
        )
    return sized.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("_set_a", "_set_b")).cast("long").alias(
            "n_common"
        ),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
    )


def jaccard_pairs_arrays(
    pairs: DataFrame,
    shingles: DataFrame | None,
    id_col: str = "doc_id",
    min_jaccard: float | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """:func:`jaccard_pairs` on the array-verify plan
    (:func:`pair_overlap_counts_arrays`) — same jaccard doubles from the
    same exact integers. ``sets`` as in
    :func:`pair_overlap_counts_arrays`."""
    return pair_overlap_counts_arrays(
        pairs, shingles, id_col, min_jaccard, sets=sets
    ).select(
        "doc_a",
        "doc_b",
        (
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
        ).alias("jaccard"),
    )


def jaccard_pairs(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float | None = None,
) -> DataFrame:
    """True n-gram Jaccard for candidate pairs via a shingle-set join.

    Union = |A| + |B| - |A ∩ B| over :func:`pair_overlap_counts`'s exact
    integers; one double divide at the end. ``min_jaccard`` enables the
    provable size-ratio prefilter (see :func:`pair_overlap_counts`):
    callers that filter ``jaccard >= min_jaccard`` downstream get an
    identical result with provably-hopeless pairs never entering the
    intersection join.
    """
    return pair_overlap_counts(pairs, shingles, id_col, min_jaccard).select(
        "doc_a",
        "doc_b",
        (
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
        ).alias("jaccard"),
    )


def containment_pairs(
    pairs: DataFrame, shingles: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Jaccard AND containment for candidate pairs — containment is
    Broder's asymmetric resemblance (Broder, "On the resemblance and
    containment of documents", SEQUENCES 1997): |A ∩ B| / min(|A|, |B|).

    A short document quoted wholesale inside a long aggregator page has
    containment ~1 but Jaccard ~|A|/|B| — the subset-duplication class a
    symmetric Jaccard threshold silently passes. Since min(|A|,|B|) <=
    |A ∪ B|, containment >= jaccard always; both come from the same
    exact overlap counts, so this costs nothing over the Jaccard verify.

    Returns (doc_a, doc_b, n_common, n_a, n_b, jaccard, containment).
    """
    ov = pair_overlap_counts(pairs, shingles, id_col)
    return ov.select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        (
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
        ).alias("jaccard"),
        (
            F.col("n_common").cast("double")
            / F.least("n_a", "n_b").cast("double")
        ).alias("containment"),
    )


def containment_pairs_arrays(
    pairs: DataFrame,
    shingles: DataFrame | None,
    id_col: str = "doc_id",
    sets: DataFrame | None = None,
) -> DataFrame:
    """:func:`containment_pairs` on the array-verify plan — the same
    exact (n_common, n_a, n_b) integers from
    :func:`pair_overlap_counts_arrays`, so jaccard AND containment are
    value-identical to the exploded-join variant. ``sets`` as in
    :func:`pair_overlap_counts_arrays` (the one-corpus-aggregation
    path). Zero-overlap candidates appear with n_common = 0 (the
    exploded variant omits them) — identical downstream of any
    ``containment >= t > 0`` filter."""
    ov = pair_overlap_counts_arrays(pairs, shingles, id_col, sets=sets)
    return ov.select(
        "doc_a",
        "doc_b",
        F.col("n_common").cast("bigint").alias("n_common"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        (
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
        ).alias("jaccard"),
        (
            F.col("n_common").cast("double")
            / F.least("n_a", "n_b").cast("double")
        ).alias("containment"),
    )


def simhash(
    df: DataFrame, bits: int = 16, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash over the token multiset — executed by the Arrow kernel
    (:func:`text_arrow.simhash_arrow`): one shuffle-free map pass
    computes per-token md5 hash64 and the per-bit vote signs in
    vectorized numpy, replacing the token explode + ``bits``-column
    vote exchange of :func:`simhash_declarative` (bit-identical rows,
    pinned by tests/test_text_arrow.py)."""
    from mdio_python_spark.operators.text_arrow import simhash_arrow

    return simhash_arrow(df, bits=bits, text_col=text_col, id_col=id_col)


def simhash_declarative(
    df: DataFrame, bits: int = 16, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash over the token multiset: per-bit ±1 votes summed per doc,
    sign of each vote becomes the bit. One combinable groupBy shuffling
    ``bits`` longs per doc. ``bits`` caps at 60 — the shared ``hash64``
    is a 60-bit hash, so higher bit positions would vote constantly.
    Kept as the declarative twin the Arrow kernel is pinned against."""
    if bits > 60:
        raise ValueError("bits must be <= 60 (hash64 is a 60-bit hash)")
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("token")
    ).select(id_col, hash64(F.col("token")).alias("h"))
    h = F.col("h")
    votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"v_{b}")
        for b in range(bits)
    ]
    per_doc = tok.groupBy(id_col).agg(*votes)
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(F.col(f"v_{b}") >= 0, F.lit(2**b)).otherwise(F.lit(0))
    return per_doc.select(F.col(id_col), sim.alias("simhash"))


def simhash_band_pairs(
    sim: DataFrame,
    bits: int = 16,
    num_bands: int = 4,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: band the signature, bucket-join, verify
    Hamming distance.

    Pigeonhole guarantees recall: two signatures within ``max_hamming``
    (< num_bands) bits must agree exactly on at least one band, so the
    band-bucket join finds every qualifying pair without an all-pairs
    scan. The signature rides along through the bucket groupBy, so the
    verify (one bit_count(xor) per candidate) needs NO join back against
    the corpus — the signature subtree is computed exactly once and
    nothing corpus-sized is broadcast.

    Scale: candidate count is ~``num_bands * n^2 / 2^band_bits`` —
    BAND ENTROPY, not corpus size, must bound the buckets. The r4 stress
    row measured the cliff: 8-bit bands went 85x superlinear on a 10x
    corpus (n^2/64 candidates); 15-bit bands restored ~linear. Size
    ``bits/num_bands`` so ``2^band_bits >> n/sqrt(pairs budget)``, and
    set ``max_bucket`` (sorted-prefix cap, like the LSH pair cap) as the
    backstop for degenerate mass-duplicate data — exact dedup upstream
    catches what the cap skips.
    """
    if max_hamming >= num_bands:
        raise ValueError(
            f"max_hamming={max_hamming} >= num_bands={num_bands}: the "
            "pigeonhole guarantee needs max_hamming < num_bands (a pair "
            "could differ in one bit per band and match no bucket)"
        )
    if bits % num_bands:
        raise ValueError(f"bits={bits} must divide evenly into {num_bands} bands")
    band_bits = bits // num_bands
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(k).alias("band_id"),
                F.shiftright(F.col("simhash"), k * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("val"),
            )
            for k in range(num_bands)
        ]
    )
    banded = sim.select(
        F.col(id_col), F.col("simhash"), F.explode(bands).alias("b")
    ).select(id_col, "simhash", "b.band_id", "b.val")
    items = F.sort_array(
        F.collect_list(F.struct(F.col(id_col).alias("id"), "simhash"))
    )
    if max_bucket is not None:
        items = F.slice(items, 1, max_bucket)
    buckets = (
        banded.groupBy("band_id", "val")
        .agg(items.alias("items"))
        .where(F.size("items") >= 2)
    )
    combos = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                lambda y: F.struct(
                    x.getField("id").alias("doc_a"),
                    y.getField("id").alias("doc_b"),
                    x.getField("simhash")
                    .bitwiseXOR(y.getField("simhash"))
                    .alias("x"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(combos).alias("p"))
        .select("p.doc_a", "p.doc_b", F.bit_count(F.col("p.x")).cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_combo_pairs(
    sim: DataFrame,
    bits: int = 60,
    blocks: int = 6,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs via block-COMBINATION banding (Manku,
    Jain & Das Sarma, "Detecting Near-Duplicates for Web Crawling",
    WWW 2007): split the signature into ``blocks`` blocks; a pair within
    ``max_hamming`` differing bits agrees exactly on at least
    ``blocks - max_hamming`` blocks, so keying one table per
    ``C(blocks, blocks - max_hamming)`` block combination (key width =
    ``(blocks - max_hamming) * block_bits``) finds every qualifying pair.

    Same OUTPUT as :func:`simhash_band_pairs` — the verify is the
    identical ``bit_count(xor) <= max_hamming`` — but the candidate key
    space grows from ``2^(bits/bands)`` to
    ``2^((blocks - max_hamming) * bits/blocks)``: with 60 bits, 6 blocks,
    distance 3, keys are 30-bit (~1e9 buckets) instead of 15-bit (32k),
    taking expected random collisions from ``4 n^2 / 2^15`` to
    ``20 n^2 / 2^30`` — the 100x stress row measured the difference as
    288x superlinear vs linear. Sizing rule at larger corpora: grow
    ``blocks`` so ``(blocks - max_hamming) * bits/blocks >= ~2 log2(n)``
    (more, narrower blocks = wider combination keys, more tables).

    The signature rides through the bucket groupBy exactly as in
    :func:`simhash_band_pairs`; nothing corpus-sized is broadcast and the
    verify needs no join back. ``max_bucket`` is the degenerate-data
    backstop (sorted-id prefix, deterministic).
    """
    from itertools import combinations

    if bits % blocks:
        raise ValueError(f"bits={bits} must divide evenly into {blocks} blocks")
    agree = blocks - max_hamming
    if agree < 1:
        raise ValueError(
            f"max_hamming={max_hamming} >= blocks={blocks}: the pigeonhole "
            "guarantee needs max_hamming < blocks"
        )
    block_bits = bits // blocks
    mask = (1 << block_bits) - 1
    combo_keys = []
    for cid, combo in enumerate(combinations(range(blocks), agree)):
        key = F.lit(0).cast("long")
        for j, blk in enumerate(combo):
            piece = F.shiftright(F.col("simhash"), blk * block_bits).bitwiseAND(
                F.lit(mask)
            )
            key = key + F.shiftleft(piece, j * block_bits)
        combo_keys.append(
            F.struct(F.lit(cid).alias("band_id"), key.alias("val"))
        )
    banded = sim.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*combo_keys)).alias("b")
    ).select(id_col, "simhash", "b.band_id", "b.val")
    items = F.sort_array(
        F.collect_list(F.struct(F.col(id_col).alias("id"), "simhash"))
    )
    if max_bucket is not None:
        items = F.slice(items, 1, max_bucket)
    buckets = (
        banded.groupBy("band_id", "val")
        .agg(items.alias("items"))
        .where(F.size("items") >= 2)
    )
    combos = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.transform(
                F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                lambda y: F.struct(
                    x.getField("id").alias("doc_a"),
                    y.getField("id").alias("doc_b"),
                    x.getField("simhash")
                    .bitwiseXOR(y.getField("simhash"))
                    .alias("x"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(combos).alias("p"))
        .select(
            "p.doc_a",
            "p.doc_b",
            F.bit_count(F.col("p.x")).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round: every node links its strictly-larger neighbors to
    the minimum of its neighborhood (incl. itself)."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node links its smaller-or-equal neighbors
    (and itself) to the minimum of that set."""
    directed = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = directed.groupBy("u").agg(F.min("v").alias("m"))
    spokes = (
        directed.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    centers = mins.select("u", F.col("m").alias("v"))
    return spokes.union(centers).distinct()


# Edge-count gate for the single-task union-find kernel: ~16 B/edge, so
# the cap puts ≤ ~16 MB of edge payload (plus small numpy intermediates)
# on one task — far under executor memory, and the kernel itself is
# O(E α(V)) vectorized passes. Above it the graph is big enough that the
# distributed star rounds (and AQE's skew handling inside them) earn
# their per-round jobs. Module-level so tests can force the loop path.
_UNIONFIND_EDGE_LIMIT = 1_000_000


def _cc_union_find(edges: DataFrame, id_col: str) -> DataFrame:
    """Single-task vectorized connected components for SMALL edge sets
    (caller gates on :data:`_UNIONFIND_EDGE_LIMIT`): coalesce the edge
    rows onto one task and run Shiloach-Vishkin-style min-hooking with
    full pointer-jumping compression in numpy — O(log V) vectorized
    passes, no per-round Spark jobs at all. Labels monotonically
    decrease and only ever name nodes of the same component, so the
    fixpoint root of every component is exactly its minimum node id —
    bit-identical to the star-round fixpoint (pinned by
    tests/test_dedup_ops.py::test_connected_components_star_forest,
    which runs both paths).

    The whole computation is LAZY (one MapInArrow node over a narrow
    coalesce of the materialized edges), so a consumer that reads the
    cluster table k times pays k cheap kernel re-runs instead of the
    loop's round-count x job-latency wall every build."""
    import numpy as np
    import pyarrow as pa

    def compute(batches):
        us, vs = [], []
        for b in batches:
            us.append(np.asarray(b.column(0), dtype=np.int64))
            vs.append(np.asarray(b.column(1), dtype=np.int64))
        if not us:
            return
        u = np.concatenate(us)
        v = np.concatenate(vs)
        ids = np.unique(np.concatenate([u, v]))  # sorted ascending
        ia = np.searchsorted(ids, u)
        ib = np.searchsorted(ids, v)
        comp = np.arange(len(ids), dtype=np.int64)
        while True:
            # hook: every edge pulls both endpoints' current roots to
            # the pair's minimum (min over same-component labels only)
            ra, rb = comp[ia], comp[ib]
            m = np.minimum(ra, rb)
            np.minimum.at(comp, ra, m)
            np.minimum.at(comp, rb, m)
            # compress: full pointer jumping to a self-rooted map
            while True:
                nxt = comp[comp]
                if np.array_equal(nxt, comp):
                    break
                comp = nxt
            if np.array_equal(comp[ia], comp[ib]):
                break
        yield pa.RecordBatch.from_arrays(
            [pa.array(ids, type=pa.int64()), pa.array(ids[comp], type=pa.int64())],
            names=[id_col, "cluster_id"],
        )

    return edges.coalesce(1).mapInArrow(
        compute, f"{id_col} long, cluster_id long"
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    id_col: str = "doc_id",
    max_iter: int = 25,
    assume_distinct: bool = False,
) -> DataFrame:
    """Duplicate clusters from near-dup pairs: connected components via
    alternating large-star / small-star rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14).

    Returns ``(id_col, cluster_id)`` for every node appearing in
    ``pairs``, with ``cluster_id`` = the minimum id in the component —
    the canonical keeper for a dedup decision.

    Scale design: each round is expressed as groupBy-min + an equi-join
    on the center node — never ``collect_list`` of a neighborhood, so a
    100M-node component cannot materialize an adjacency array on one
    task (the root's full spoke list exists only as rows). Rounds
    converge in O(log n); each round's join reuses the groupBy's hash
    partitioning on the center. Lineage is truncated every round with an
    eager ``localCheckpoint`` (on a cluster: ``checkpoint`` to
    fault-tolerant storage), and convergence is detected by an
    order-independent fingerprint (count + bit_xor of the native edge
    hash) computed via ``observe`` INSIDE the checkpoint's own
    materialization job — one tiny driver row per round with no second
    scan of the edge set (the wall of this loop is round-count x job
    latency, not data volume, so every per-round job counts).

    ``assume_distinct=True`` skips the initial distinct exchange; pass
    it only when ``pairs`` is already a distinct ``id_a < id_b`` set
    (the :func:`bucket_pairs` output contract every LSH caller uses).

    Small graphs (gate :data:`_UNIONFIND_EDGE_LIMIT`, long ids) run the
    single-task :func:`_cc_union_find` instead of the star rounds
    (``max_iter`` does not apply there: the kernel always converges);
    the gate contract is :func:`caching.size_gated`'s.
    """
    from mdio_python_spark.operators.caching import size_gated

    edges = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
    if not assume_distinct:
        edges = edges.where(F.col("u") != F.col("v")).distinct()
    return size_gated(
        edges,
        _UNIONFIND_EDGE_LIMIT,
        lambda base: _cc_union_find(base, id_col),
        lambda base: _cc_star_rounds(base, id_col, max_iter),
        "dedup.connected_components",
        long_cols=("u", "v"),
    )


def _cc_star_rounds(edges: DataFrame, id_col: str, max_iter: int) -> DataFrame:
    """The distributed large-star / small-star loop of
    :func:`connected_components` over its materialized edge list."""
    converged = False
    fingerprint = None
    for _ in range(max_iter):
        obs = Observation()
        edges = (
            _small_star(_large_star(edges))
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                # internal convergence hash only — never published,
                # so the cheap native xxhash64 is the right pick
                F.bit_xor(F.xxhash64(F.col("u"), F.col("v"))).alias("x"),
            )
            .localCheckpoint()
        )
        fp = obs.get
        if fingerprint == (fp["n"], fp["x"]):
            converged = True
            break
        fingerprint = (fp["n"], fp["x"])
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # At the fixpoint the edge set is a star forest: each non-root
    # appears in exactly one (member, root) edge — a set that were it
    # not functional would change under another star round, which the
    # fingerprint proved it does not. Roots appear only on the v side
    # and cluster under themselves, so the union is already duplicate-
    # free: no final distinct exchange (pinned by
    # tests/test_dedup_ops.py::test_connected_components_star_forest).
    members = edges.select(
        F.col("u").alias(id_col), F.col("v").alias("cluster_id")
    )
    roots = (
        edges.select(F.col("v").alias(id_col))
        .distinct()
        .select(id_col, F.col(id_col).alias("cluster_id"))
    )
    return members.union(roots)


def segment_dedup_stats(
    df: DataFrame,
    seg_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document segment-level dedup signal (the "duplicate line
    fraction" quality filter of web-corpus pipelines, adapted to flat
    text as fixed ``seg_tokens``-word segments).

    Per document: total segments, segments whose exact content appears in
    MORE THAN ONE distinct document, and the duplicated fraction —
    documents that are mostly boilerplate shared with other pages score
    high and get dropped by the curation filter.

    Scale shape: segments cross as 8-byte hashes (``chunk_documents``
    emits no chunk text); the frequency table is a combinable
    two-phase distinct-count on the hash; the join back is hash-on-hash
    co-partitioned and the final per-doc rollup is combinable. Three
    bounded exchanges, no corpus broadcast, no window.
    """
    from mdio_python_spark.operators.text import chunk_documents

    segs = chunk_documents(
        df, chunk_tokens=seg_tokens, overlap=0, id_col=id_col, text_col=text_col
    ).select(id_col, "chunk_hash")
    freq = segs.groupBy("chunk_hash").agg(
        F.countDistinct(id_col).alias("_n_docs")
    )
    return (
        segs.join(freq, "chunk_hash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("_n_docs") > 1).cast("long")).alias("n_dup_segments"),
        )
        .withColumn(
            "dup_ratio",
            F.col("n_dup_segments").cast("double")
            / F.col("n_segments").cast("double"),
        )
    )


def window_dup_stats(
    df: DataFrame,
    window_tokens: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window substring-dup signal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 — the
    shuffle-friendly stand-in for its suffix-array substring match):
    every stride-1 ``window_tokens``-token window of every document,
    flagged duplicated iff its exact content occurs in MORE THAN ONE
    distinct document. Unlike :func:`segment_dedup_stats` (flat
    non-overlapping segments), overlapping windows catch a copied span
    at ANY alignment — the signal suffix-array dedup thresholds on.

    Per document: total full windows (documents shorter than
    ``window_tokens`` tokens emit none and are absent from the output),
    duplicated windows (every occurrence counts, including repeats
    within one document when the content also appears elsewhere), and
    the duplicated fraction.

    Scale shape: the explode is O(total tokens) rows of 16 bytes — the
    window content never leaves the scan stage (each window crosses as
    a native ``xxhash64`` of its token slice: the hash is internal
    grouping state, never output, so it skips the md5-based
    oracle-shared hash and its 2x scan cost). The forked consumer pair
    (frequency groupBy + join back) reads ONE explicit
    ``repartition(whash)`` exchange — ReusedExchange computes the
    tokenize+explode subtree exactly once (the same AQE-reuse-is-not-a-
    contract lesson as the funnel/incremental-dedup persists; here an
    exchange both sides consume co-partitioned suffices). The per-doc
    rollup is combinable. ~Linear in corpus tokens, never pairwise.
    """
    from mdio_python_spark.operators.text import tokens

    toks = tokens(F.lower(F.trim(F.col(text_col))))
    base = df.select(F.col(id_col), toks.alias("_toks")).where(
        F.size("_toks") >= window_tokens
    )
    starts = F.sequence(
        F.lit(0), F.size("_toks") - F.lit(window_tokens), F.lit(1)
    )
    wins = (
        base.select(F.col(id_col), F.col("_toks"), F.explode(starts).alias("_s"))
        .select(
            id_col,
            F.xxhash64(
                F.slice(F.col("_toks"), F.col("_s") + 1, window_tokens)
            ).alias("whash"),
        )
        .repartition("whash")
    )
    freq = wins.groupBy("whash").agg(F.countDistinct(id_col).alias("_n_docs"))
    return (
        wins.join(freq, "whash")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("_n_docs") > 1).cast("long")).alias("n_dup_windows"),
        )
        .withColumn(
            "dup_ratio",
            F.col("n_dup_windows").cast("double")
            / F.col("n_windows").cast("double"),
        )
    )


def incremental_dedup(
    new_docs: DataFrame,
    existing_docs: DataFrame | None,
    n: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    jaccard_threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    existing_shingles: DataFrame | None = None,
    existing_signatures: DataFrame | None = None,
    existing_hashes: DataFrame | None = None,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the shape production
    ingestion actually runs: the corpus is never re-deduped, only the
    delta is cleaned, both exactly and near-dup (MinHash/LSH + Jaccard
    verify), against itself and the index.

    Priority: existing docs always outrank new ones (the corpus is
    immutable); among new docs, the smaller id wins. A new doc drops if
    it exact-matches any existing doc (or a smaller-id new doc), or if a
    verified candidate pair links it to any existing doc or smaller-id
    new doc with Jaccard >= threshold (greedy drop-doc_b semantics, the
    same convention as the batch funnel). Ids must be unique across both
    inputs.

    Scale: pass ``existing_shingles``/``existing_signatures`` to reuse a
    precomputed index — then the per-batch cost is shingling the DELTA
    plus one bucket join whose buckets only contain colliding docs; the
    full corpus is scanned zero times. Cross-side pairs are generated
    in-bucket from a sorted (side, id) struct array with the standard
    hot-bucket cap, so a degenerate batch cannot go quadratic.

    Locally-computed shingle stages are persisted: each side's shingle
    table feeds BOTH the MinHash signatures and the Jaccard verify, and
    AQE identical-subtree reuse does not reliably fire across that fork
    (the round-4 funnel lesson) — without the cache the tokenize +
    explode + hash subtree runs twice per side, and the recompute made
    the 10x stress row unstable (12-42 s; ~8 s persisted). Handles ride
    on the returned DataFrame (``release_cached``), bounded to one
    generation by ``caching.own``.
    """
    from mdio_python_spark.operators.caching import eager, own, persist
    if existing_docs is None and (
        existing_hashes is None
        or existing_shingles is None
        or existing_signatures is None
    ):
        raise ValueError(
            "existing_docs=None requires all of existing_hashes / "
            "existing_shingles / existing_signatures (a full index)"
        )
    text_hash = F.md5(F.col(text_col))
    ex_hashes = (
        existing_hashes.select(F.col("text_hash").alias("_th")).distinct()
        if existing_hashes is not None
        else existing_docs.select(text_hash.alias("_th")).distinct()
    )
    new1 = (
        new_docs.withColumn("_th", text_hash)
        .join(ex_hashes, "_th", "left_anti")
        .drop("_th")
    )
    new2 = exact_dedup(new1, text_col, id_col)

    # Round 10b: the locally-computed shingle stages persist per-doc SET
    # ARRAYS built by the shuffle-free Arrow kernel (explode + JVM md5 +
    # collect_set exchange collapsed into one vectorized-MD5 map pass;
    # bit-identical rows — tests/test_text_arrow.py) — signatures derive
    # from the arrays and the Jaccard verify joins the same caches. An
    # exogenous row-based index (existing_shingles) is aggregated to the
    # same set-array shape ONCE and reused for both consumers.
    from mdio_python_spark.operators.text_arrow import shingle_sets_arrow

    cached: list[DataFrame] = []
    sets_new = persist(
        shingle_sets_arrow(
            new2, n, unit="word", text_col=text_col, id_col=id_col,
            spread=False,  # new2 is shuffle-rooted (anti-join + window)
            minhashes=num_hashes,
        )
    )
    cached.append(sets_new)
    if existing_shingles is not None:
        sets_old = shingle_sets(existing_shingles, id_col)
        eager(sets_new)
    else:
        sets_old = persist(
            shingle_sets_arrow(
                existing_docs, n, unit="word", text_col=text_col,
                id_col=id_col, minhashes=num_hashes,
            )
        )
        cached.append(sets_old)
        # the two sides' eager materializations are INDEPENDENT jobs —
        # submit them concurrently so the old side's tasks back-fill the
        # new side's tail instead of waiting out two serial jobs
        # (guide §2.6; job submission is thread-safe and 2 in flight is
        # exactly the back-fill budget)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(eager, (sets_new, sets_old)))
    sig_new = minhash_signatures_from_sets(sets_new, num_hashes, id_col)
    sig_old = (
        existing_signatures
        if existing_signatures is not None
        else minhash_signatures_from_sets(sets_old, num_hashes, id_col)
    )

    def banded(sig: DataFrame, flag: int) -> DataFrame:
        bands = []
        for band in range(num_hashes // rows_per_band):
            cols = [
                F.col(f"mh_{band * rows_per_band + r}").cast("string")
                for r in range(rows_per_band)
            ]
            bands.append(
                F.struct(
                    F.lit(band).alias("band_id"),
                    hash64(F.concat_ws("_", *cols)).alias("band_hash"),
                )
            )
        return sig.select(
            F.col(id_col), F.lit(flag).alias("_side"), F.explode(F.array(*bands)).alias("b")
        ).select(id_col, "_side", "b.band_id", "b.band_hash")

    all_banded = banded(sig_old, 0).unionByName(banded(sig_new, 1))
    # sorted (side, id) puts every existing doc before every new doc;
    # in-bucket combos where the LATER element is new give exactly the
    # (better, new) candidate pairs. Hot-bucket cap applies PER SIDE: a
    # plain prefix slice of the sorted array would keep only existing
    # docs in a bucket dominated by them — evicting exactly the new docs
    # the check exists for, so near-dups would pass unverified.
    items = F.sort_array(
        F.collect_list(F.struct(F.col("_side").alias("s"), F.col(id_col).alias("id")))
    )
    if max_bucket_size is not None:
        half = max(max_bucket_size // 2, 1)
        old_side = F.slice(
            F.filter(items, lambda x: x.getField("s") == 0), 1, half
        )
        new_side = F.slice(
            F.filter(items, lambda x: x.getField("s") == 1), 1, half
        )
        items = F.concat(old_side, new_side)
    buckets = (
        all_banded.groupBy("band_id", "band_hash")
        .agg(items.alias("items"))
        .where(F.size("items") >= 2)
    )
    combos = F.flatten(
        F.transform(
            F.col("items"),
            lambda x, i: F.filter(
                F.transform(
                    F.slice(F.col("items"), i + 2, F.size(F.col("items"))),
                    lambda y: F.struct(
                        x.getField("id").alias("doc_a"),
                        y.getField("id").alias("doc_b"),
                        y.getField("s").alias("b_side"),
                    ),
                ),
                lambda p: p.getField("b_side") == 1,
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(combos).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    all_sets = sets_old.select(id_col, "_set").unionByName(
        sets_new.select(id_col, "_set")
    )
    drops = (
        jaccard_pairs_arrays(
            pairs, None, id_col, min_jaccard=jaccard_threshold, sets=all_sets
        )
        .where(F.col("jaccard") >= jaccard_threshold)
        .select(F.col("doc_b").alias(id_col))
        .distinct()
    )
    return own(
        new2.join(drops, id_col, "left_anti"), "dedup.incremental_shingles", *cached
    )


def ngram_novelty(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document novelty: the fraction of its distinct word n-grams
    that first occur in THIS document (first = lowest id). The streaming
    complement of pairwise near-dup detection — a low-novelty tail is the
    bulk-duplication signal Lee et al. (ACL 2022) measure with suffix
    arrays, computed here with two combinable passes instead of pairwise
    comparison. Docs shorter than ``n`` tokens have no n-grams and drop
    from the output (both engines agree: inner join over an empty set).

    Scale: grams cross the wire as native 64-bit ``xxhash64`` (internal
    grouping state, never output — the DuckDB oracle groups by the gram
    string; a collision merges two grams' first-doc in Spark only, odds
    ~n^2/2^64). One explicit ``repartition(gh)`` exchange feeds BOTH the
    first-doc aggregate and the membership join co-partitioned
    (ReusedExchange — the fork-sharing fix that needs no cache memory).
    """
    from mdio_python_spark.operators.caching import own, persist

    grams = word_shingles(df, n, text_col=text_col, id_col=id_col, distinct=False)
    # hash BEFORE the per-doc distinct so the dedup shuffle moves 16-byte
    # (id, gh) rows, never n-gram strings (the shingle_hashes rule); the
    # repartition(gh) satisfies the distinct's clustering (gh is a subset
    # of its keys), the groupBy(gh), and the join. The deduped stage is
    # persisted: its two consumers (first-doc aggregate, membership join)
    # sit across a self-join whose analyzer dedup re-aliases expr ids, so
    # exchange reuse does NOT fire and the tokenize+explode+hash subtree
    # would run twice (the persist-the-fork rule; verified in the plan —
    # two identical REPARTITION_BY_COL(gh) exchanges without the cache).
    g = persist(
        grams.select(F.col(id_col), F.xxhash64(F.col("shingle")).alias("gh"))
        .repartition("gh")
        .dropDuplicates([id_col, "gh"])
    )
    first_seen = g.groupBy("gh").agg(F.min(id_col).alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col(id_col), 1).otherwise(0)
    ).cast("bigint")
    out = (
        g.join(first_seen, "gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            novel.alias("n_novel"),
            (novel.cast("double") / F.count(F.lit(1)).cast("bigint")).alias(
                "novelty_frac"
            ),
        )
    )
    return own(out, "dedup.ngram_novelty", g)


def char_shingles(
    df: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Character n-gram shingles of the lower-cased text (id, shingle) —
    the word-boundary-robust dedup unit (CCNet-family pipelines): a
    single edit shifts at most n char shingles but rewrites every word
    shingle it touches, and tokenizer-free matching survives spacing /
    punctuation mangling that defeats word shingles.

    Same codegen-capable slice+zip construction as :func:`word_shingles`
    over the character array (``split(text, '')`` — between-code-unit
    split, matching DuckDB ``substr`` for all BMP text). ~6x more rows
    per doc than word 3-shingles — the known cost of char-level
    robustness; always hash before shuffling (:func:`shingle_hashes`
    rule)."""
    t = F.lower(F.trim(F.col(text_col)))
    chars = F.split(t, "")
    n_sh = F.greatest(F.size(chars) - F.lit(n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(chars, i + 1, n_sh) for i in range(n)])
    exploded = df.select(F.col(id_col), F.explode(zipped).alias("z"))
    fields = [f.name for f in exploded.schema["z"].dataType.fields]
    return exploded.select(
        F.col(id_col),
        F.concat_ws("", *[F.col("z").getField(f) for f in fields]).alias(
            "shingle"
        ),
    )


def bucket_pair_counts(
    banded: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    stop_bucket_size: int | None = None,
) -> DataFrame:
    """(doc_a < doc_b, n_shared) — how many buckets each pair co-occurs
    in, via the same in-bucket combination generation as
    :func:`bucket_pairs` (upstream computed once, only colliding docs
    ever meet, same deterministic sorted-id hot-bucket cap). Where
    :func:`bucket_pairs` answers "which pairs collide at all", this
    keeps the multiplicity — the match-strength signal winnowing-style
    fingerprint matching thresholds on (a one-fingerprint collision is
    noise; m shared fingerprints mean m distinct shared regions).

    Requires the (id, bucket) rows to be distinct per pair semantics the
    caller wants counted — duplicates inflate n_shared.
    ``stop_bucket_size``: see :func:`_bucket_combos`.

    Exchange strategy (round 9, VERDICT r8 item 1): the combo stream is
    ~all-distinct per task — a pair's m co-occurrences live in m
    DIFFERENT bucket-hash partitions, so map-side partial aggregation
    buys ~zero reduction while its hash map overflows on the distinct
    stream and falls back to sort-based aggregation (sorts + spills
    measured 5x the whole query at the 30x stress point: 110 s -> 22 s).
    Repartitioning the raw combos on the pair key instead satisfies the
    groupBy's distribution, so the count runs once, post-exchange,
    against partition-local maps sized |pairs|/N — the exchange ships
    the same rows either way, minus the fallback. N scales with the
    core budget so per-partition maps stay bounded at any corpus size."""
    combos = _bucket_combos(
        banded, bucket_cols, id_col, max_bucket_size, stop_bucket_size
    )
    n_parts = 3 * banded.sparkSession.sparkContext.defaultParallelism
    return (
        combos.repartition(n_parts, "doc_a", "doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
