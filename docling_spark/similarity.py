"""Similarity search over the ``embeddings`` table (array<float> column).

- Brute-force cosine top-k: the exact baseline. Dot products via
  ``F.zip_with`` + ``F.aggregate`` (JVM-side higher-order functions, no
  Python). Query side is broadcast - the big side streams.
- LSH (random hyperplane) bucketed variant: the 100-TB path. Sign-bit
  sketches bucket the corpus; only same-bucket pairs get exact scoring.
  Hyperplanes are deterministic (seeded) so results are reproducible.
"""

from __future__ import annotations

import math
import random

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from . import keep_spark_archives


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def with_normalized(embeddings: DataFrame, col="embedding") -> DataFrame:
    n = _norm(F.col(col))
    # divide via zip_with against array_repeat(n, size): the norm
    # subtree is evaluated ONCE per row. The direct transform(col, v/n)
    # duplicated the whole aggregate-fold norm into the lambda body,
    # where it was re-evaluated per ELEMENT (a dim^2 interpreted-op
    # blowup per row that dominated every normalized corpus scan).
    # Division operands and order are unchanged, so values are
    # bit-identical.
    scaled = F.zip_with(F.col(col),
                        F.array_repeat(n, F.size(F.col(col))),
                        lambda v, nn: v / nn)
    return embeddings.withColumn(
        "norm_emb",
        F.when(n > 0, scaled).otherwise(F.col(col)),
    )


def cosine_topk_bruteforce(embeddings: DataFrame, queries: DataFrame,
                           k: int = 5) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    ``queries``: (vec_id, embedding) - small; broadcast to every task so the
    corpus never shuffles. Score = cosine; ties broken by neighbor id.
    """
    corpus = with_normalized(embeddings).select(
        F.col("vec_id").alias("nbr_id"), F.col("norm_emb").alias("nbr_emb"))
    qs = with_normalized(queries).select(
        F.col("vec_id").alias("query_id"), F.col("norm_emb").alias("q_emb"))
    scored = corpus.join(F.broadcast(qs),
                         F.col("nbr_id") != F.col("query_id"))
    scored = scored.withColumn("cosine", _dot(F.col("q_emb"),
                                              F.col("nbr_emb")))
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("cosine"), F.asc("nbr_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nbr_id", F.round("cosine", 6).alias("cosine"),
                    "rank"))


def random_hyperplanes(dim: int, n_planes: int = 16, seed: int = 42):
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_bucket(embeddings: DataFrame, dim: int, n_planes: int = 16,
               seed: int = 42, col="embedding") -> DataFrame:
    """Sign-bit sketch: bucket id = bits of sign(embedding . plane_i)."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(random_hyperplanes(dim, n_planes, seed)):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        bucket = bucket + F.when(_dot(F.col(col), arr) > 0,
                                 F.lit(1 << i)).otherwise(0)
    return embeddings.withColumn("bucket", bucket)


def _sketch_keys_udf(dim, n_planes: int, seeds: list, masks=None):
    """Vectorized LSH sketch keys: a pandas UDF computing, per Arrow
    batch, one numpy matmul against all tables' hyperplanes at once and
    packing sign bits into composite ``(table << n_planes) | bucket``
    keys (optionally expanded by XOR probe masks).

    ``dim=None`` infers the dimension from the first Arrow batch inside
    the UDF — hyperplanes are deterministic given (dim, n_planes, seed),
    so every executor lazily builds the identical matrix and no driver
    ``.first()`` action is needed to discover the width."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    n_tables = len(seeds)
    bit_weights = (1 << np.arange(n_planes)).astype(np.int64)
    table_offsets = (np.arange(n_tables, dtype=np.int64) << n_planes)
    mask_arr = (np.array(masks, dtype=np.int64)
                if masks else np.zeros(1, dtype=np.int64))
    cache: dict = {}

    def _w(d: int):
        if d not in cache:
            planes = np.array(
                [random_hyperplanes(d, n_planes, s) for s in seeds],
                dtype=np.float64)               # (T, P, dim)
            cache[d] = planes.reshape(-1, d).T  # (dim, T*P)
        return cache[d]

    if dim is not None:
        _w(dim)

    @pandas_udf("array<long>")
    def keys(emb: pd.Series) -> pd.Series:
        keep_spark_archives()
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(emb.tolist(), dtype=np.float64)      # (n, dim)
        signs = (mat @ _w(mat.shape[1])) > 0                 # (n, T*P)
        buckets = (signs.reshape(len(mat), n_tables, n_planes)
                   @ bit_weights)                            # (n, T)
        # probe expansion: bucket ^ mask, then table offset
        probed = (buckets[:, :, None] ^ mask_arr[None, None, :]
                  ) + table_offsets[None, :, None]           # (n, T, M)
        flat = probed.reshape(len(mat), -1)
        return pd.Series(list(flat))

    return keys


def _md5_bucket(col: str, n_planes: int, seed: int, table: int,
                w_col=None, int_col: str | None = None):
    """Sign-bit sketch bucket for ONE table of the md5-derived INTEGER
    hyperplane family, as pure column algebra.

    Plane entry w(t,i,d) = (md5_60bit("lsh:<seed>:<t>:<i>:<d>") % 17) - 8
    (zero-mean integers in [-8, 8]); the embedding is pre-scaled to
    integers via floor(x * 1e6), so every dot product is EXACT integer
    arithmetic - no float summation order, which makes the bucket
    assignment engine-portable (DuckDB computes the identical bits,
    the trick that graduated hash_embed to an exact oracle). The
    gaussian family stays the production default: its planes are
    isotropic (uniform angular coverage) while the integer family is
    slightly lattice-quantized - fine for an oracle-twinned fixture,
    not what you'd pick for recall at scale.

    Round 8: the plane entry depends only on (seed, table, i, d), so
    the md5/conv/substring chain - previously re-evaluated PER ROW per
    plane per dimension inside the fold - is precomputed driver-side
    with hashlib (bit-identical: both are md5 of the same ASCII string,
    first 15 hex digits as a 60-bit non-negative integer, % 17 - 8).
    When ``w_col`` is given it names a column holding this table's
    precomputed planes (array<array<long>>, shipped as BROADCAST DATA
    by the caller - literals at this width made Catalyst analysis of
    the key expressions the bottleneck); ``slice`` trims each plane to
    the row's dimensionality so the zip_with pairing is unchanged, and
    rows wider than the precomputed planes fall back to the original
    per-row md5 expression (same values, just slower). ``int_col``
    optionally names an already-projected integer-scaled embedding
    column, letting the caller evaluate the floor-scale ONCE per row
    instead of once per (table, plane) dot.
    """
    emb_int = (F.col(int_col) if int_col is not None else F.transform(
        F.col(col), lambda x: F.floor(x.cast("double") * 1000000.0)
        .cast("long")))

    def dot_slow(i: int):
        prefix = f"lsh:{seed}:{table}:{i}:"
        w = lambda d: (F.conv(F.substring(F.md5(F.concat(
            F.lit(prefix), d.cast("string"))), 1, 15), 16, 10)
            .cast("long") % 17 - 8)
        return F.aggregate(
            F.zip_with(emb_int,
                       F.sequence(F.lit(0), F.size(F.col(col)) - 1),
                       lambda x, d: x * w(d)),
            F.lit(0).cast("long"), lambda acc, v: acc + v)

    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        if w_col is not None:
            w_ref = F.col(w_col) if isinstance(w_col, str) else w_col
            plane = F.element_at(w_ref, i + 1)
            dot_fast = F.aggregate(
                F.zip_with(emb_int,
                           F.slice(plane, 1, F.size(F.col(col))),
                           lambda x, w: x * w),
                F.lit(0).cast("long"), lambda acc, v: acc + v)
            dot = F.when(F.size(F.col(col)) <= F.size(plane), dot_fast) \
                .otherwise(dot_slow(i))
        else:
            dot = dot_slow(i)
        bucket = bucket + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def _sql_ident(name: str) -> str:
    """``name`` as a quoted SQL identifier: backticks, with any backtick
    inside doubled."""
    return "`" + name.replace("`", "``") + "`"


def _md5_bucket_sql(col: str, n_planes: int, seed: int, table: int,
                    w_idx: int, int_col: str) -> str:
    """SQL-text twin of :func:`_md5_bucket` (w_col + int_col form):
    the same expression tree rendered as ONE string for ``F.expr``.

    Building the bucket through the Column DSL costs hundreds of py4j
    round-trips (~0.5 s per table on this box - construction, not
    execution); parsing one SQL string is a single round-trip with the
    tree built JVM-side. Every function, operand order, literal type
    and CASE/NULL behavior mirrors the DSL form - pinned by
    ``tests/test_operators.py::test_md5_bucket_sql_matches_dsl`` which
    compares both columns row-for-row (including a NULL and a ragged
    wide row) - so bucket values are bit-identical.

    ``w_idx`` is the 1-based index of this table's planes inside the
    broadcast ``__w`` column.
    """
    plane = lambda i: f"element_at(element_at(`__w`, {w_idx}), {i + 1})"
    prefix = f"lsh:{seed}:{table}:"
    col, int_col = _sql_ident(col), _sql_ident(int_col)
    terms = ["CAST(0 AS BIGINT)"]
    for i in range(n_planes):
        fast = (f"aggregate(zip_with({int_col}, "
                f"slice({plane(i)}, 1, size({col})), "
                f"(x, w) -> x * w), CAST(0 AS BIGINT), "
                f"(acc, v) -> acc + v)")
        slow = (f"aggregate(zip_with({int_col}, "
                f"sequence(0, size({col}) - 1), "
                f"(x, d) -> x * ((CAST(conv(substring(md5(concat("
                f"'{prefix}{i}:', CAST(d AS STRING))), 1, 15), 16, 10) "
                f"AS BIGINT) % 17) - 8)), CAST(0 AS BIGINT), "
                f"(acc, v) -> acc + v)")
        dot = (f"CASE WHEN size({col}) <= size({plane(i)}) "
               f"THEN {fast} ELSE {slow} END")
        terms.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


def _md5_plane_weights(n_planes: int, seed: int, table: int,
                       max_dim: int = 128) -> list:
    """Driver-side twin of ``_md5_bucket``'s per-element weight
    expression: md5 of the same ASCII string, first 15 hex digits as a
    60-bit integer, % 17 - 8 (non-negative dividend, so Python's % and
    Spark's % agree)."""
    import hashlib

    return [[int(hashlib.md5(f"lsh:{seed}:{table}:{i}:{d}".encode())
                 .hexdigest()[:15], 16) % 17 - 8
             for d in range(max_dim)]
            for i in range(n_planes)]


def _probe_masks(n_planes: int, radius: int) -> list:
    """XOR masks for all buckets within Hamming ``radius`` of a sketch."""
    from itertools import combinations
    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(n_planes), r):
            masks.append(sum(1 << b for b in bits))
    return masks


def cosine_topk_lsh(embeddings: DataFrame, queries: DataFrame,
                    dim: int | None = None,
                    k: int = 5, n_planes: int = 8, seed: int = 42,
                    n_tables: int = 1, probe_hamming: int = 1,
                    plane_family: str = "gauss") -> DataFrame:
    """Approximate top-k: compare only within the query's LSH bucket(s).

    Recall is governed by two standard knobs (both compose, and both keep
    the corpus-side scan bucket-pruned):

    - ``probe_hamming``: multi-probe - each query also probes every bucket
      within this Hamming radius of its sketch (vectors near a hyperplane
      land on either side; single-probe recall cliffs at scale). Radius 1
      scans ~(n_planes+1)/2^n_planes of the corpus.
    - ``n_tables``: independent hash tables with different hyperplanes; a
      true neighbor is found if ANY table buckets it with the query
      (miss probability decays geometrically in n_tables).

    Candidates are deduped across tables/probes before scoring, so each
    (query, neighbor) pair is scored exactly once. All tables ride ONE
    corpus scan and ONE equi-join on a composite key
    ``(table << n_planes) | bucket``. Sketches are computed by a
    vectorized Arrow/numpy matmul (one ``(n, dim) @ (dim, T*P)`` per
    record batch) - hyperplane signs are scale-invariant, so the raw
    embedding is bucketed and normalization is paid only at scoring.

    ``plane_family``: "gauss" (default - isotropic numpy hyperplanes,
    the production recall choice) or "md5" - integer-exact md5-derived
    planes computed as JVM column algebra (:func:`_md5_bucket`), whose
    bucket bits an independent SQL engine reproduces bit-for-bit, so
    the whole approximate query is exact-oracle-checkable.
    """
    masks = _probe_masks(n_planes, probe_hamming)
    corpus = with_normalized(embeddings).select(
        F.col("vec_id").alias("nbr_id"), F.col("norm_emb").alias("nbr_emb"),
        F.col("embedding").alias("raw_emb"))
    qs = with_normalized(queries).select(
        F.col("vec_id").alias("query_id"), F.col("norm_emb").alias("q_emb"),
        F.col("embedding").alias("raw_emb"))
    if plane_family == "md5":
        # the integer plane weights are a pure function of
        # (seed, table, plane, dim): precompute them driver-side and
        # ship them as ONE broadcast row (round 8 - the per-row
        # md5/conv/substring chain dominated this query's executor
        # time, and weight literals at full width made Catalyst
        # analysis of the 2*tables*(1+probes) key expressions the
        # bottleneck instead; data-shaped weights keep both cheap)
        wdf = None
        # the bucket expressions reference only the column NAMES
        # raw_emb/__emb_int/__w, so they are built ONCE here and reused
        # verbatim by both keyed() sides - and built as SQL text
        # (``_md5_bucket_sql``, one py4j round-trip per table) rather
        # than through the Column DSL (hundreds of round-trips per
        # table; round 8 second pass measured expression CONSTRUCTION
        # as the larger half of this query's wall time). Values are
        # bit-identical - the DSL form stays as the reference and a
        # parity test compares the two row-for-row.
        shared_bcols = [
            F.expr(_md5_bucket_sql("raw_emb", n_planes, seed + 7919 * t,
                                   t, t + 1, "__emb_int")).alias(f"_b{t}")
            for t in range(n_tables)]

        def keyed(df, id_col, probe_masks):
            nonlocal wdf
            if wdf is None:
                wdf = df.sparkSession.createDataFrame(
                    [([_md5_plane_weights(n_planes, seed + 7919 * t, t)
                       for t in range(n_tables)],)],
                    "__w: array<array<array<long>>>")
            # two analysis passes, not 3 per table: the integer-scaled
            # embedding and the per-table weight slice are projected
            # once, and all table buckets land in ONE select (each
            # withColumn used to re-analyze the growing plan, which
            # dominated this query's driver time)
            b = (df.crossJoin(F.broadcast(wdf))
                 .withColumn("__emb_int", F.transform(
                     F.col("raw_emb"),
                     lambda x: F.floor(x.cast("double") * 1000000.0)
                     .cast("long"))))
            b = b.select(id_col, *shared_bcols)
            # probe keys as ONE parsed expression as well; `^` is
            # Spark SQL's bitwiseXOR, CAST+`+` match the DSL's
            # lit().cast("long") + xor term by term
            keys = ", ".join(
                f"CAST({t << n_planes} AS BIGINT) + (`_b{t}` ^ {m})"
                for t in range(n_tables)
                for m in (probe_masks or [0]))
            return b.select(id_col,
                            F.expr(f"explode(array({keys}))").alias("key"))
        cb = keyed(corpus, "nbr_id", None)
        qb = keyed(qs, "query_id", masks)
    else:
        keys_udf = _sketch_keys_udf(
            dim, n_planes, [seed + 7919 * t for t in range(n_tables)],
            masks=None)
        probe_udf = _sketch_keys_udf(
            dim, n_planes, [seed + 7919 * t for t in range(n_tables)],
            masks=masks)
        cb = corpus.select(
            "nbr_id", F.explode(keys_udf("raw_emb")).alias("key"))
        qb = qs.select(
            "query_id", F.explode(probe_udf("raw_emb")).alias("key"))
    cands = (cb.join(F.broadcast(qb), "key")
             .select("query_id", "nbr_id")
             .where(F.col("nbr_id") != F.col("query_id"))
             .distinct())
    corpus = corpus.drop("raw_emb")
    qs = qs.drop("raw_emb")
    scored = (cands.join(corpus, "nbr_id")
              .join(F.broadcast(qs), "query_id")
              .withColumn("cosine", _dot(F.col("q_emb"), F.col("nbr_emb"))))
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("cosine"), F.asc("nbr_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nbr_id", F.round("cosine", 6).alias("cosine"),
                    "rank"))


def seed_centroids(embeddings: DataFrame, n_centroids: int = 8,
                   col="embedding") -> list:
    """Deterministic IVF coarse quantizer: stride the ``vec_id`` range
    into ``n_centroids`` even buckets and seed with the smallest-id
    vector of each bucket, L2-normalized.

    A production IVF index would train these with k-means over a sample;
    strided seeding keeps the codebook spread across the corpus (a
    prefix-of-ids seed degenerates when ids correlate with content),
    reproducible, AND SQL-expressible so the DuckDB oracle can rebuild
    the identical inverted lists. Cost: one min/max agg + one K-row
    groupBy + one K-row fetch - the codebook is driver state by
    construction (like the LSH hyperplanes) and is broadcast into
    literal expressions, never shuffled."""
    bounds = embeddings.agg(F.min("vec_id").alias("mn"),
                            F.max("vec_id").alias("mx"))
    bucket = F.floor(
        (F.col("vec_id") - F.col("mn")) * n_centroids
        / F.greatest(F.col("mx") - F.col("mn") + 1, F.lit(1)))
    # single action: broadcast 1-row bounds, min_by picks the smallest-id
    # vector per bucket in the same aggregate
    rows = (embeddings.crossJoin(F.broadcast(bounds))
            .groupBy(bucket.alias("b"))
            .agg(F.min("vec_id").alias("sid"),
                 F.min_by(col, "vec_id").alias("emb"))
            .orderBy("sid").collect())
    cents = []
    for r in rows:
        v = [float(x) for x in r["emb"]]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        cents.append([x / n for x in v])
    return cents


def _centroid_sims(cents: list, col):
    """sims[i] = cosine(col, centroid_i) as one JVM array expression
    (``col`` must already be L2-normalized)."""
    lit = F.array(*[F.array(*[F.lit(float(x)) for x in c]) for c in cents])
    return F.transform(lit, lambda c: _dot(col, c))


def ivf_topk(embeddings: DataFrame, queries: DataFrame,
             k: int = 5, n_centroids: int = 8, n_probe: int = 2) -> DataFrame:
    """IVF-flat approximate top-k (the centroid-bucketed scale path,
    complementing ``cosine_topk_lsh``).

    Index: every corpus vector is assigned to its nearest centroid
    (``seed_centroids``) - one scan, pure JVM array algebra, no shuffle.
    Search: each query probes its ``n_probe`` nearest inverted lists;
    exact cosine runs only on vectors in probed lists. Recall/latency
    trade via (n_centroids, n_probe) exactly as in FAISS-style IVF-flat.

    100-TB notes: the corpus never shuffles on data size - the only join
    is corpus ⋈ broadcast(query probes) on ``list_id`` (int equi-join),
    so each task streams its partition once and emits only probed-list
    matches. At scale the inverted lists would be written bucketed-by
    ``list_id`` so repeated query batches prune files instead of
    rescanning (partition pruning on the list column); assignment cost is
    K dot products per row, all inside whole-stage codegen. Ties are
    broken by centroid id then neighbor id, so output is deterministic.
    """
    cents = seed_centroids(embeddings, n_centroids)
    corpus = with_normalized(embeddings).select(
        F.col("vec_id").alias("nbr_id"), F.col("norm_emb").alias("nbr_emb"))
    # argmax over centroid sims: max of (sim, -index) structs -> smallest
    # index wins ties
    sims = _centroid_sims(cents, F.col("nbr_emb"))
    best = F.array_max(F.transform(
        sims, lambda s, i: F.struct(s.alias("s"), (-i).alias("ni"))))
    corpus = corpus.withColumn("list_id", -best["ni"])
    qs = with_normalized(queries).select(
        F.col("vec_id").alias("query_id"), F.col("norm_emb").alias("q_emb"))
    qsims = _centroid_sims(cents, F.col("q_emb"))
    ordered = F.array_sort(
        F.transform(qsims, lambda s, i: F.struct(s.alias("s"),
                                                 i.alias("i"))),
        lambda l, r: F.when(l["s"] > r["s"], F.lit(-1))
                      .when(l["s"] < r["s"], F.lit(1))
                      .otherwise(l["i"] - r["i"]))
    probes = F.transform(F.slice(ordered, 1, n_probe), lambda x: x["i"])
    qp = qs.select("query_id", "q_emb",
                   F.explode(probes).alias("list_id"))
    scored = (corpus.join(F.broadcast(qp), "list_id")
              .where(F.col("nbr_id") != F.col("query_id"))
              .withColumn("cosine", _dot(F.col("q_emb"), F.col("nbr_emb"))))
    w = (Window.partitionBy("query_id")
         .orderBy(F.desc("cosine"), F.asc("nbr_id")))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "nbr_id",
                    F.round("cosine", 6).alias("cosine"), "rank"))


def embedding_dedup(embeddings: DataFrame, dim: int,
                    threshold: float = 0.95, n_planes: int = 10,
                    seed: int = 7) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets + exact verify."""
    corpus = lsh_bucket(with_normalized(embeddings), dim, n_planes, seed,
                        col="norm_emb")
    l = corpus.select(F.col("vec_id").alias("id_a"),
                      F.col("norm_emb").alias("emb_a"), "bucket")
    r = corpus.select(F.col("vec_id").alias("id_b"),
                      F.col("norm_emb").alias("emb_b"), "bucket")
    pairs = l.join(r, ["bucket"]).where(F.col("id_a") < F.col("id_b"))
    pairs = pairs.withColumn("cosine", _dot(F.col("emb_a"), F.col("emb_b")))
    return (pairs.where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
            .distinct())


def embedding_profile(embeddings: DataFrame, col: str = "embedding",
                      label_col: str = "label") -> DataFrame:
    """Per-label embedding-column QC - the gate every vector corpus
    passes before ANN indexing: vector counts, dimensionality drift
    (ragged arrays from a bad upstream batch), NaN contamination,
    zero vectors, and the norm envelope (un-normalized embeddings
    poison cosine retrieval silently).

    The per-vector norm folds the array left-to-right after casting
    each element to double, so Spark and a SQL twin produce
    bit-identical per-row values; only the label-level avg depends on
    partition order, absorbed by round(4).  One scan-side projection +
    one map-side-partial hash aggregation on the (tiny) label key -
    no UDF, no shuffle of vector payloads beyond the partial rows.
    """
    vec = F.transform(F.col(col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0),
                              lambda acc, v: acc + v * v))
    row = embeddings.select(
        F.col(label_col).alias("label"),
        F.size(F.col(col)).alias("dim"),
        F.exists(F.col(col), lambda x: F.isnan(x)).alias("has_nan"),
        F.round(norm, 6).alias("norm"))
    return (row.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.countDistinct("dim").alias("n_dims"),
                 F.sum(F.col("has_nan").cast("long")).alias("n_nan_vecs"),
                 F.sum(F.when(F.col("norm") == 0.0, 1).otherwise(0))
                  .cast("long").alias("n_zero_vecs"),
                 F.min("norm").alias("min_norm"),
                 F.max("norm").alias("max_norm"),
                 F.round(F.avg("norm"), 4).alias("avg_norm")))


def kmeans_assign(embeddings: DataFrame, k: int = 4, n_iter: int = 3,
                  col: str = "embedding",
                  large_k_threshold: int = 4096) -> DataFrame:
    """Deterministic Lloyd k-means assignments over an embedding
    column - the cluster-balanced sampling / corpus-map primitive
    (SemDeDup-style curation buckets documents by embedding cluster
    before per-cluster dedup/sampling).

    Determinism contract: seeds = the smallest-id vector of each
    strided ``vec_id`` bucket (the IVF seeding rule - reproducible and
    SQL-replicable); distance = squared Euclidean; ties break to the
    smaller cluster id (argmin = first occurrence); update = per-dim
    arithmetic mean; an emptied cluster keeps its previous centroid.

    Plan shape (100-TB lens): per iteration the corpus is scanned once
    - assignment is a pure JVM array expression against BROADCAST
    centroids, and the centroid update is one hash aggregation whose
    k*dim result values are the ONLY driver state (the sanctioned
    codebook pattern from IVF). No iteration shuffles the corpus on
    anything but the k-sized key.

    Round-8 plan hygiene (same values, measured 3-4x faster locally):

    - iteration centroids ride a broadcast 1-row DataFrame instead of
      literal expressions, so the iteration plan is STRUCTURALLY
      CONSTANT and Catalyst analysis + whole-stage codegen compile once
      instead of once per iteration (fresh literals forced a recompile
      every round);
    - the update aggregation is per-dim ``avg(element_at(col, i))``
      over the base rows rather than ``posexplode`` + avg: the explode
      inlined the interpreted higher-order assignment expression into
      the Generate, re-evaluating it once per EXPLODED row (a dim-fold
      amplification). Same Average aggregate over the same values in
      the same row order, so the resulting centroids are bit-identical
      (verified against the previous implementation, 0 assignment
      diffs at every SF).

    Large-k path: SemDeDup at 100 TB wants k ~ sqrt(N) (10^4-10^5),
    where a k*dim expression - literal or broadcast-data - blows up the
    Catalyst tree and the interpreted per-row fold costs k*dim lambda
    invocations per row. When ``k * dim > large_k_threshold`` the
    assignment runs as an Arrow-batched pandas UDF against a BROADCAST
    VARIABLE centroid matrix (one numpy matmul per batch via the
    |x|^2 - 2xC' + |c|^2 expansion, argmin = first occurrence, same
    tie rule). Distances are computed in float64 either way; numpy's
    pairwise summation can differ from the JVM fold by an ULP, so the
    small-k default (which the DuckDB oracle twins) keeps the exact
    fold, and the large-k path is for the regime where the oracle
    cannot enumerate k anyway. Unit-tested equal to the fold path at
    k=256 on separated data.
    """
    spark = embeddings.sparkSession
    bounds = embeddings.agg(F.min("vec_id").alias("mn"),
                            F.max("vec_id").alias("mx"))
    bucket = F.floor(
        (F.col("vec_id") - F.col("mn")) * k
        / F.greatest(F.col("mx") - F.col("mn") + 1, F.lit(1)))
    rows = (embeddings.crossJoin(F.broadcast(bounds))
            .groupBy(bucket.alias("b"))
            .agg(F.min("vec_id").alias("sid"),
                 F.min_by(col, "vec_id").alias("emb"))
            .orderBy("sid").collect())
    cents = [[float(x) for x in r["emb"]] for r in rows]

    def argmin_expr(dists):
        # array_position returns the FIRST occurrence -> ties break to
        # the smaller cluster id
        return (F.array_position(dists, F.array_min(dists)) - 1) \
            .cast("int")

    def assign_col():
        # final-output path: centroid literals, exactly the historical
        # expression (no join in the returned plan)
        lit = F.array(*[F.array(*[F.lit(float(x)) for x in c])
                        for c in cents])
        dists = F.transform(lit, lambda c: F.aggregate(
            F.zip_with(F.col(col), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, v: acc + v))
        return argmin_expr(dists)

    dim = len(cents[0]) if cents else 0
    use_pandas = k * dim > large_k_threshold

    # The iteration's assignment expression and per-dim average
    # aggregates are STRUCTURALLY CONSTANT (centroid values ride the
    # broadcast DataFrame as data) - build the Column trees once here
    # and reuse them every iteration instead of re-issuing ~350 py4j
    # calls per round (round-8 second pass: expression construction was
    # ~1.6 s of the 3.5 s leg). The aggs parse from SQL text (one
    # round-trip each) - avg(CAST(try_element_at(col, i) AS DOUBLE)) is
    # the same function chain the DSL built.
    assign_expr = None
    if not use_pandas:
        dists = F.transform(F.col("__cents"), lambda c: F.aggregate(
            F.zip_with(F.col(col), c, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, v: acc + v))
        assign_expr = argmin_expr(dists)
    iter_aggs = [F.expr(f"avg(CAST(try_element_at({_sql_ident(col)}, "
                        f"{i + 1}) AS DOUBLE))").alias(f"m{i}")
                 for i in range(dim)]

    def with_assign_bc(cents):
        if use_pandas:
            return _with_assign_pandas(embeddings, cents, col)
        # iteration path: same distance fold, centroid VALUES flow as
        # broadcast data so the plan (and its codegen) never changes
        cdf = spark.createDataFrame([(cents,)],
                                    "__cents: array<array<double>>")
        j = embeddings.crossJoin(F.broadcast(cdf))
        return j.withColumn("__c", assign_expr).drop("__cents")
    for _ in range(n_iter):
        # per-dim Average over the rows of each cluster: identical
        # accumulation to the exploded per-(c,pos) avg (element_at on a
        # too-short array is NULL and Average skips NULLs, matching the
        # explode variant's absent rows); the all-dims-or-keep guard
        # below preserves the emptied/ragged-cluster rule
        sums = (with_assign_bc(cents).groupBy("__c").agg(*iter_aggs)
                .collect())
        new = {ci: list(c) for ci, c in enumerate(cents)}
        for r in sums:
            vals = [r[f"m{i}"] for i in range(dim)]
            if all(v is not None for v in vals):
                new[r["__c"]] = [float(v) for v in vals]
        cents = [new[ci] for ci in range(len(cents))]
    if use_pandas:
        return (_with_assign_pandas(embeddings, cents, col)
                .select("vec_id", F.col("__c").alias("cluster")))
    return embeddings.select("vec_id", assign_col().alias("cluster"))


def _with_assign_pandas(embeddings: DataFrame, cents: list,
                        col: str) -> DataFrame:
    """Large-k cluster assignment: centroids as a Spark broadcast
    variable into an Arrow-batched pandas UDF (one matmul per record
    batch). Adds a ``__c`` int column; see kmeans_assign's docstring
    for when this path runs and how it relates to the exact-fold
    default."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    sc = embeddings.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(cents, dtype=np.float64))

    @pandas_udf("int")
    def assign(emb: pd.Series) -> pd.Series:
        keep_spark_archives()
        c = bc.value                              # (k, dim)
        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        vals = emb.tolist()
        # NULL rows assign to NULL cluster, matching the fold path
        # (a NULL array folds to NULL distances -> NULL argmin)
        null_mask = [v is None for v in vals]
        dense = [v for v in vals if v is not None]
        if not dense:
            return pd.Series([None] * len(vals), dtype="object")
        try:
            x = np.array(dense, dtype=np.float64)      # (n, dim)
        except ValueError:
            # ragged batch: pad/truncate to the centroid width (the
            # fold path treats missing dims as null -> this path maps
            # them to 0; ragged inputs are out of the determinism
            # contract either way)
            x = np.zeros((len(dense), c.shape[1]))
            for j, v in enumerate(dense):
                w = min(len(v), c.shape[1])
                x[j, :w] = v[:w]
        # |x-c|^2 = |x|^2 - 2 x.c + |c|^2 ; the |x|^2 term is constant
        # per row and cannot change the argmin
        d = (-2.0 * (x @ c.T)) + (c * c).sum(axis=1)[None, :]
        am = iter(np.argmin(d, axis=1))
        return pd.Series(
            [None if isnull else int(next(am))
             for isnull in null_mask], dtype="object")

    return embeddings.withColumn("__c", assign(F.col(col)))


def semantic_dedup(embeddings: DataFrame, k: int = 4, n_iter: int = 3,
                   threshold: float = 0.95,
                   col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embeddings with :func:`kmeans_assign`, compare pairs ONLY within a
    cluster, fold pairs with cosine >= threshold into components, keep
    the smallest ``vec_id`` per component.

    Output: (vec_id, cluster, group_id, keep) - every input row
    appears; singletons are their own group with keep = true.

    Scale shape: the quadratic pair join is bounded per cluster (the
    whole point of the clustering stage - SemDeDup runs k ~ sqrt(N) so
    expected cluster size stays manageable); the join is an equi-join
    on the cluster key, never a global cartesian, and the cosine is
    computed on candidates only. Component folding is
    ``dedup.connected_components`` (pointer-jumping min-label,
    O(log diameter) rounds). Cosines are rounded to 6 decimals BEFORE
    thresholding so the keep decision is engine-portable.
    """
    from .dedup import connected_components

    clusters = kmeans_assign(embeddings, k=k, n_iter=n_iter, col=col)
    # all consumers read `base` below (both sides of the pair
    # self-join AND the final output join - base carries vec_id and
    # cluster), so ONE eager localCheckpoint materializes the
    # expensive k-means assignment exactly once (the per-query analog
    # of the persisted intermediate table you'd write at 100 TB);
    # checkpointing `clusters` separately was a second materialization
    # job for the same expression. Values are unchanged - this only
    # cuts recompute.
    n_pref = 16
    # try_element_at: beyond-length prefixes are NULL (ANSI element_at
    # throws), which NULLs the guard sum and retains the pair for the
    # exact stage - the conservative direction
    pref_cols = [F.try_element_at(F.col("norm_emb"), F.lit(i + 1))
                 .alias(f"p{i}") for i in range(n_pref)]
    base = (with_normalized(embeddings, col)
            .join(clusters, "vec_id")
            .select("vec_id", "cluster", "norm_emb", *pref_cols)
            .localCheckpoint(eager=True))
    # Quadratic stage, round-8 restructure (guide §8: decide with small
    # rows, move big rows once). The same-cluster self-join used to
    # carry BOTH full vectors into every candidate row and fold a
    # dim-length interpreted lambda per pair - at one dominant cluster
    # that is O(n^2) full-vector row assembly (37s at the bench's 2M
    # pairs). Now:
    #   1. candidates join on (cluster, 16-dim prefix) rows only, with
    #      a LOSSLESS prune: for unit vectors cos >= t (after round(6))
    #      implies ||a-b||^2 = 2-2cos <= 2-2t+1e-6, and any prefix of
    #      the squared distance is <= the full one, so the guard
    #      (prefix dist <= 2-2t+0.01, a margin dwarfing both the
    #      round-6 slack and fp summation error) can never drop a pair
    #      the exact filter would keep (NULL guard = ragged array rows
    #      are retained for the exact stage). The prefix rides as 16
    #      FLAT double columns, not an array: the guard folds into the
    #      join condition, where per-pair array element_at was the
    #      measured hot spot (37s -> 0.5s) - attribute refs are cheap
    #      in both codegen and interpreted eval;
    #   2. survivors re-join base to fetch the full vectors, and the
    #      EXACT cosine - the identical left-to-right fold as before -
    #      makes the keep decision. Output pairs are unchanged.
    guard_t = 2.0 - 2.0 * threshold + 0.01
    partial = F.lit(0.0)
    for i in range(n_pref):
        d = F.col(f"a.p{i}") - F.col(f"b.p{i}")
        partial = partial + d * d
    # NaN partials must ALSO survive: Spark orders NaN above every
    # number, so the exact stage's `round(cos,6) >= t` KEEPS NaN-cosine
    # pairs - a guard that dropped NaN prefixes would change the output
    # for NaN-poisoned embeddings
    guard = ((partial <= guard_t) | partial.isNull()
             | F.isnan(partial))
    small = base.drop("norm_emb")
    cands = (small.alias("a")
             .join(small.alias("b"),
                   (F.col("a.cluster") == F.col("b.cluster"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
             .where(guard)
             .select(F.col("a.vec_id").alias("doc_a"),
                     F.col("b.vec_id").alias("doc_b")))
    ea = base.select(F.col("vec_id").alias("doc_a"),
                     F.col("norm_emb").alias("emb_a"))
    eb = base.select(F.col("vec_id").alias("doc_b"),
                     F.col("norm_emb").alias("emb_b"))
    cos = F.round(_dot(F.col("emb_a"), F.col("emb_b")), 6)
    pairs = (cands.join(ea, "doc_a").join(eb, "doc_b")
             .where(cos >= threshold)
             .select("doc_a", "doc_b"))
    comps = connected_components(pairs).withColumnRenamed(
        "node", "vec_id")
    out = (base.select("vec_id", "cluster").join(comps, "vec_id", "left")
           .select("vec_id", "cluster",
                   F.coalesce("group_id", F.col("vec_id"))
                   .alias("group_id")))
    return out.withColumn("keep", F.col("vec_id") == F.col("group_id"))
