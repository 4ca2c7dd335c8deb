"""Deduplication operators over the ``documents`` table.

Four families, all Spark-first (explode/groupBy/join - no driver loops):

- exact: hash-groupBy on a normalized fingerprint;
- MinHash + LSH: shingle -> K minhashes -> B bands -> bucket self-join;
- SimHash: 64-bit sign-aggregated token hashes (bit algebra, no UDF);
- n-gram Jaccard verify: exact similarity on LSH candidate pairs only.

At 100 TB the only materialized shuffles are groupBys on
(band, bucket-hash) keys whose cardinality we control, and the candidate
pair set - never an all-pairs product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def normalized_text(col="text"):
    return F.lower(F.regexp_replace(F.trim(F.col(col)), r"\s+", " "))


# At web scale a single boilerplate fingerprint (empty pages, cookie
# walls) can have 10^7+ members; group outputs sample the first N member
# ids (exact counts are kept) so no aggregation buffer is unbounded.
MAX_GROUP_IDS = 100


SAMPLE_SALTS = 32


def exact_duplicates(documents: DataFrame,
                     max_ids: int = MAX_GROUP_IDS,
                     n_salts: int = SAMPLE_SALTS) -> DataFrame:
    """Groups of byte-identical (normalized) docs: fingerprint -> ids.

    ``dup_count``/``keeper_id`` are exact; ``doc_ids`` carries only the
    ``max_ids`` smallest member ids, found with a TWO-PHASE SALTED
    top-N: phase 1 takes the per-(fingerprint, salt) N smallest (the
    sort task for a degenerate 10^8-member boilerplate fingerprint is
    1/n_salts of the group, spread over n_salts parallel tasks), phase
    2 merges the <= n_salts*N survivors per fingerprint - a bounded
    input, so its per-fingerprint window cannot straggle. The overall
    N smallest are a subset of the per-salt N smallest, so the result
    is identical to a single global window (oracle-checked)."""
    fp = documents.select(
        "doc_id", F.md5(normalized_text()).alias("fingerprint"))
    counts = (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("dup_count"),
             F.min("doc_id").alias("keeper_id"))
        .where(F.col("dup_count") > 1)
    )
    salted = fp.withColumn(
        "salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salts)))
    w1 = Window.partitionBy("fingerprint", "salt").orderBy("doc_id")
    survivors = (
        salted.withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= max_ids)
        .drop("rn", "salt")
    )
    w2 = Window.partitionBy("fingerprint").orderBy("doc_id")
    sample = (
        survivors.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= max_ids)
        .groupBy("fingerprint")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
    )
    return counts.join(sample, "fingerprint").select(
        "fingerprint", "dup_count", "keeper_id", "doc_ids")


def dedup_keep_first(documents: DataFrame) -> DataFrame:
    """Exact dedup: keep the smallest doc_id per fingerprint.

    Hash-aggregate (map-side partial min absorbs skewed fingerprints)
    + semi-join on (fingerprint, keeper id) instead of a
    per-fingerprint window sort - no single task ever sorts a
    degenerate fingerprint's full membership."""
    fpd = documents.withColumn("fingerprint", F.md5(normalized_text()))
    keepers = fpd.groupBy("fingerprint").agg(
        F.min("doc_id").alias("doc_id"))
    return (
        fpd.join(keepers, ["fingerprint", "doc_id"], "left_semi")
        .drop("fingerprint")
    )


def shingles(documents: DataFrame, k: int = 5) -> DataFrame:
    """Word k-shingles per doc (distinct), via sequence+transform -
    JVM-side array algebra, no Python.

    The token array is materialized as a column first: referencing the
    normalize+split expression inside the transform lambda duplicates
    it into the lambda body, re-evaluating it once per shingle (an
    O(n_words * text_len) blowup per document). Same shingles.
    """
    tdf = documents.select(
        "doc_id", F.split(normalized_text(), r"\s+").alias("__t"))
    toks = F.col("__t")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)))
    return tdf.select(
        "doc_id",
        F.explode(F.array_distinct(sh)).alias("shingle"),
    ).where(F.length("shingle") > 0)


def _hash64(col, seed, hash_mode: str = "xxhash64"):
    """Seeded 60/64-bit hash of a string column.

    ``xxhash64`` (default): the JVM intrinsic - the fast production
    family. ``md5``: first 15 hex chars of md5('<seed>\\x01' || s) as a
    60-bit int - slower, but DuckDB computes the IDENTICAL value
    (CAST('0x'||substr(md5(..),1,15) AS BIGINT)), which lets the whole
    MinHash/SimHash pipeline run under an exact SQL oracle."""
    if hash_mode == "md5":
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}\x01"), col)), 1, 15),
            16, 10).cast("long")
    return F.xxhash64(col, F.lit(seed))


def _hash64_sql(col_sql: str, seed, hash_mode: str = "xxhash64") -> str:
    """SQL-text twin of :func:`_hash64` for fast expression builds
    (one parse round-trip instead of ~7 DSL calls); same functions,
    same values - pinned by
    tests/test_operators.py::test_hash64_sql_matches_dsl. ``seed`` is
    rendered into the SQL text, so it must be an ``int``."""
    if not isinstance(seed, int):
        raise TypeError(f"seed must be an int, got {seed!r}")
    if hash_mode == "md5":
        return (f"CAST(conv(substring(md5(concat('{seed}\x01', "
                f"{col_sql})), 1, 15), 16, 10) AS BIGINT)")
    return f"xxhash64({col_sql}, {seed})"


def minhash_signatures(documents: DataFrame, k: int = 5,
                       num_hashes: int = 64,
                       hash_mode: str = "xxhash64") -> DataFrame:
    """K minhash values per doc: min over hash64(shingle, seed) per seed.

    One explode + one groupBy; the seed dimension is an array column, so
    the shuffle carries num_hashes longs per doc, not per shingle.
    """
    sh = shingles(documents, k)
    seeds = list(range(num_hashes))
    mins = [
        F.expr(f"min({_hash64_sql('`shingle`', s, hash_mode)})")
        .alias(f"h{s}")
        for s in seeds
    ]
    sig = sh.groupBy("doc_id").agg(*mins)
    return sig.select(
        "doc_id",
        F.expr("array(" + ", ".join(f"`h{s}`" for s in seeds) + ")")
        .alias("signature"))


def _cap_hot_buckets(banded: DataFrame, keys: list,
                     max_bucket_size: int) -> DataFrame:
    """Drop rows in band buckets larger than ``max_bucket_size``.

    Web-scale boilerplate (empty pages, error pages, shared templates)
    collapses into mega-buckets whose self-join is quadratic: one 15k-doc
    bucket alone yields ~10^8 candidate pairs. Capping bounds the join to
    O(buckets * cap^2). Docs dropped here are near-identical boilerplate -
    exact dedup (hash-groupBy, no bucket join) still catches the identical
    ones. Use :func:`hot_bucket_stats` on the same banded frame to audit
    the dropped volume.
    """
    w = Window.partitionBy(*keys)
    return (banded.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .where(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz"))


def hot_bucket_stats(banded: DataFrame, keys: list,
                     max_bucket_size: int) -> DataFrame:
    """Audit view: the buckets (and doc volume) a cap would drop."""
    return (banded.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .where(F.col("n_docs") > max_bucket_size))


def minhash_banded(documents: DataFrame, k: int = 5, num_hashes: int = 64,
                   bands: int = 16,
                   hash_mode: str = "xxhash64") -> DataFrame:
    """(doc_id, band, bucket) rows: one bucket hash per signature band.

    In ``hash_mode="md5"`` the bucket key is the band's signature csv
    itself (the hash only compresses the key; the csv keeps the DuckDB
    twin byte-exact without a second hash hop)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(documents, k, num_hashes, hash_mode)

    def _band_key(b):
        csv = F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col("signature"),
                        b * rows_per_band + 1, rows_per_band),
                lambda x: x.cast("string")))
        if hash_mode == "md5":
            return csv
        # cast: posexplode needs one element type across modes
        return F.xxhash64(csv).cast("string")

    return sig.select(
        "doc_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), _band_key)
        ).alias("band", "bucket"),
    )


def lsh_candidate_pairs(documents: DataFrame, k: int = 5,
                        num_hashes: int = 64, bands: int = 16,
                        max_bucket_size: int = 1000,
                        hash_mode: str = "xxhash64") -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    Buckets larger than ``max_bucket_size`` are excluded before the
    self-join (see :func:`_cap_hot_buckets`) so degenerate boilerplate
    buckets can never go quadratic.
    """
    banded = minhash_banded(documents, k, num_hashes, bands, hash_mode)
    banded = _cap_hot_buckets(banded, ["band", "bucket"], max_bucket_size)
    # both self-join sides read the banded table: materialize once
    # (lazy) instead of recomputing the num_hashes-fold signatures per
    # side
    banded = banded.localCheckpoint(eager=False)
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(right,
                  (F.col("l.band") == F.col("r.band"))
                  & (F.col("l.bucket") == F.col("r.bucket"))
                  & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("doc_a"),
                F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


def ngram_jaccard(documents: DataFrame, pairs: DataFrame,
                  k: int = 5) -> DataFrame:
    """Exact Jaccard over word k-shingles for candidate pairs (verification
    stage after LSH; the join fans out only over candidates)."""
    # the shingle table feeds both pair sides and the size aggregate:
    # materialize once (lazy)
    sh = shingles(documents, k).localCheckpoint(eager=False)
    a = sh.withColumnRenamed("doc_id", "doc_a").alias("a")
    b = sh.withColumnRenamed("doc_id", "doc_b").alias("b")
    inter = (
        pairs.join(a, "doc_a").join(
            b, (F.col("b.doc_b") == pairs["doc_b"])
            & (F.col("a.shingle") == F.col("b.shingle")))
        .groupBy("doc_a", pairs["doc_b"])
        .agg(F.count(F.lit(1)).alias("inter_size"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        inter
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
              .withColumnRenamed("n_shingles", "size_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_shingles", "size_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter_size")
            / (F.col("size_a") + F.col("size_b") - F.col("inter_size")))
        .select("doc_a", "doc_b", "inter_size", "jaccard")
    )


def near_duplicates(documents: DataFrame, k: int = 5, num_hashes: int = 64,
                    bands: int = 16, threshold: float = 0.8,
                    max_bucket_size: int = 1000,
                    hash_mode: str = "xxhash64") -> DataFrame:
    """MinHash-LSH candidates verified by exact shingle Jaccard."""
    pairs = lsh_candidate_pairs(documents, k, num_hashes, bands,
                                max_bucket_size, hash_mode)
    return (ngram_jaccard(documents, pairs, k)
            .where(F.col("jaccard") >= threshold))


def simhash(documents: DataFrame, bits: int = 64,
            hash_mode: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per doc: sign aggregation of per-token hashes.

    Pure column algebra: explode tokens, per-bit +-1 votes via bit tests on
    hash64(token), aggregate sums, reassemble the sign bits. In
    ``hash_mode="md5"`` (the oracle family, see :func:`_hash64`) the top
    4 hash bits are constant-zero, so those positions vote -1 on every
    token - identically in the SQL twin, keeping hamming distances exact.
    """
    toks = documents.select(
        "doc_id", F.explode(F.split(normalized_text(), r"\s+")).alias("tok"))
    toks = toks.where(F.col("tok") != "")
    # hash materialized once per token: referencing the md5 chain in
    # every per-bit vote re-evaluated it ``bits`` times per token
    h_expr = (_hash64(F.col("tok"), "", "md5") if hash_mode == "md5"
              else F.xxhash64("tok"))
    toks = toks.select("doc_id", h_expr.alias("__h"))
    # vote and signature expressions parse from SQL text - one py4j
    # round-trip each instead of ~6 per bit through the Column DSL
    # (~0.8 s of pure driver-side construction per query build at
    # bits=64); CASE WHEN / & / shiftrightunsigned are the exact
    # functions the DSL form invoked, so the values are unchanged
    votes = [
        F.expr(f"sum(CASE WHEN (shiftrightunsigned(`__h`, {b}) & 1) != 0 "
               f"THEN 1 ELSE -1 END)").alias(f"b{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    # top bit excluded to stay in signed-long range
    sig = F.expr(" + ".join(
        ["CAST(0 AS BIGINT)"]
        + [f"(CASE WHEN `b{b}` > 0 THEN {1 << b} ELSE 0 END)"
           for b in range(bits - 1)]))
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_banded(documents: DataFrame,
                   hash_mode: str = "xxhash64") -> DataFrame:
    """(doc_id, simhash, band, band_val) rows: 4 x 16-bit sub-bands.

    Pigeonhole: any pair within hamming<=3 of 64 bits shares at least one
    of the 4 bands exactly. Exploding bands into rows turns the previous 4
    unioned self-joins into ONE equi-join keyed on (band, band_val) - one
    shuffle instead of four."""
    sig = simhash(documents, hash_mode=hash_mode)
    band_arr = F.array(*[
        F.shiftrightunsigned(F.col("simhash"), 16 * i)
        .bitwiseAND(F.lit(0xFFFF))
        for i in range(4)
    ])
    return sig.select(
        "doc_id", "simhash",
        F.posexplode(band_arr).alias("band", "band_val"))


def simhash_near_duplicates(documents: DataFrame,
                            max_hamming: int = 3,
                            max_bucket_size: int = 1000,
                            hash_mode: str = "xxhash64") -> DataFrame:
    """Candidate pairs whose simhashes differ in <= max_hamming bits.

    Block on 4 x 16-bit sub-bands, cap hot buckets (16-bit keys give only
    65k buckets/band, so web boilerplate WILL pile up - see
    :func:`_cap_hot_buckets`), then verify with bit_count."""
    banded = simhash_banded(documents, hash_mode)
    banded = _cap_hot_buckets(banded, ["band", "band_val"], max_bucket_size)
    # both self-join sides read the banded table: materialize once
    # (lazy) instead of recomputing the 64-bit-vote signatures per side
    banded = banded.localCheckpoint(eager=False)
    l = banded.alias("l")
    r = banded.alias("r")
    pairs = (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.band_val") == F.col("r.band_val"))
               & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("doc_a"),
                F.col("r.doc_id").alias("doc_b"),
                F.col("l.simhash").alias("sim_a"),
                F.col("r.simhash").alias("sim_b"))
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (pairs.withColumn("hamming", hamming)
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


# ------------------------------------------------- near-dup group folding

def connected_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Fold near-duplicate PAIRS into components: (node, group_id).

    Pairs alone cannot drop duplicates from a corpus - transitive chains
    (a~b, b~c) must collapse into one group with one keeper. This is
    iterative min-label propagation in pure DataFrame algebra (no
    GraphFrames): each round every node takes the min of its own label and
    its neighbors' labels, PLUS a pointer-jumping step (label <- label of
    label) so chains collapse in O(log diameter) rounds rather than
    O(diameter). Convergence is detected with a changed-count action per
    round; ``localCheckpoint`` cuts the lineage so plans stay flat.

    Near-dup clusters in web corpora are cliques/stars (diameter <= ~3),
    so this typically converges in 2-3 rounds.
    """
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    # lazy localCheckpoints: materialized by the first round's job
    # instead of two standalone warm-up jobs (values unchanged - both
    # forms cut the lineage and compute each table once)
    edges = (edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .localCheckpoint(eager=False))
    labels = (edges.select(F.col("a").alias("node")).distinct()
              .withColumn("label", F.col("node"))
              .localCheckpoint(eager=False))
    for _ in range(max_iters):
        nbr_min = (edges.join(labels, edges["b"] == labels["node"])
                   .groupBy("a").agg(F.min("label").alias("nbr_label")))
        stepped = (labels.join(nbr_min, labels["node"] == nbr_min["a"],
                               "left")
                   .select(labels["node"],
                           F.least(labels["label"],
                                   F.coalesce("nbr_label", labels["label"]))
                           .alias("label")))
        # pointer jumping: node -> label(label(node))
        parent = stepped.select(F.col("node").alias("pnode"),
                                F.col("label").alias("plabel"))
        jumped = (stepped.join(parent,
                               stepped["label"] == parent["pnode"], "left")
                  .select(stepped["node"],
                          F.least(stepped["label"],
                                  F.coalesce("plabel", stepped["label"]))
                          .alias("label")))
        # fold the convergence comparison into the SAME materialization
        # job (one action per round, not two): __chg flags nodes whose
        # label moved vs the previous round; the count then only scans
        # the already-materialized local rows
        jumped = (jumped.join(labels.select("node",
                                            F.col("label").alias("__old")),
                              "node")
                  .select("node", "label",
                          (F.col("label") != F.col("__old")).alias("__chg"))
                  .localCheckpoint(eager=True))
        changed = jumped.where("__chg").count()
        labels = jumped.drop("__chg")
        if changed == 0:
            break
    else:
        # Silent non-convergence would split components (dedup keeps docs
        # it should drop); make it loud instead of partially merged.
        raise RuntimeError(
            f"connected_components did not converge within {max_iters} "
            f"rounds ({changed} labels still changing); raise max_iters "
            "for graphs with diameter > ~2^max_iters.")
    return labels.select("node", F.col("label").alias("group_id"))


def dedup_groups(pairs: DataFrame,
                 max_ids: int = MAX_GROUP_IDS) -> DataFrame:
    """Near-dup groups with keeper policy: smallest doc_id survives.

    Output: (group_id, n_docs, doc_ids sorted, keeper_id). group_id ==
    keeper_id == min doc_id of the component (stable, join-free policy).
    ``n_docs`` is exact; ``doc_ids`` samples the ``max_ids`` smallest
    members (bounded memory for giant components).
    """
    comp = connected_components(pairs)
    counts = (comp.groupBy("group_id")
              .agg(F.count(F.lit(1)).alias("n_docs"),
                   F.min("node").alias("keeper_id")))
    w = Window.partitionBy("group_id").orderBy("node")
    sample = (comp.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= max_ids)
              .groupBy("group_id")
              .agg(F.sort_array(F.collect_list("node")).alias("doc_ids")))
    return counts.join(sample, "group_id").select(
        "group_id", "n_docs", "doc_ids", "keeper_id")


def drop_near_duplicates(documents: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Corpus minus non-keeper members of every near-dup component."""
    comp = connected_components(pairs)
    losers = comp.where(F.col("node") != F.col("group_id")).select(
        F.col("node").alias(id_col))
    return documents.join(losers, id_col, "left_anti")


def ngram_jaccard_pairs(documents: DataFrame, n: int = 3,
                        threshold: float = 0.3,
                        max_df: int = 100) -> DataFrame:
    """Near-dup pairs by EXACT word-n-gram Jaccard similarity.

    Candidate generation is an equi-join on distinct n-grams (no
    all-pairs): explode each doc's distinct grams, drop grams appearing
    in more than ``max_df`` docs (boilerplate shingles would otherwise
    produce a quadratic hot-key join at crawl scale), self-join on the
    gram, then Jaccard = |A∩B| / (|A|+|B|-|A∩B|) over the KEPT gram
    sets. Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.

    100-TB notes: one explode + one groupBy for the document-frequency
    cap, one equi-join whose key cardinality is bounded by max_df, and
    two broadcast-friendly size joins; no UDFs, no all-pairs product.
    """
    # spread the tokenize/explode across the cluster: a small-file scan
    # arrives as 1-2 partitions and would shingle on one core, and AQE
    # would coalesce a count-less repartition right back - pin the count
    par = documents.sparkSession.sparkContext.defaultParallelism
    documents = documents.repartition(par, F.col("doc_id"))
    # token array materialized as a column - a direct reference inside
    # the transform lambda re-evaluates normalize+split once per gram
    tdf = documents.select(
        "doc_id", F.split(normalized_text(), " ").alias("__t"))
    w = F.col("__t")
    idx = F.when(
        F.size(w) >= n,
        F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, n))))
    exploded = tdf.select(
        "doc_id", F.explode(grams).alias("gram"))
    hot = (exploded.groupBy("gram")
           .agg(F.count(F.lit(1)).alias("df"))
           .where(F.col("df") > max_df)
           .select("gram"))
    kept = exploded.join(hot, "gram", "left_anti")
    # the kept gram set feeds FOUR consumers (both join sides + both
    # size aggregates); without a materialization Spark re-runs the
    # explode + df-cap shuffle for each. localCheckpoint bounds the
    # stored size to the capped explode (the 100-TB analog is a
    # persisted intermediate table between stages).
    kept = kept.localCheckpoint(eager=False)
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = kept.select(F.col("doc_id").alias("doc_a"), "gram")
    b = kept.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = (a.join(b, "gram")
             .where(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_ab")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n").alias("n_b"))
    jac = (F.col("n_ab").cast("double")
           / (F.col("n_a") + F.col("n_b") - F.col("n_ab")))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .where(jac >= threshold)
            .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard")))


def embedding_cosine_pairs(embeddings: DataFrame, top_m: int = 4,
                           threshold: float = 0.4,
                           max_df: int = 200) -> DataFrame:
    """Near-dup pairs by embedding cosine similarity.

    Deterministic blocking, then exact verification (the dense-vector
    analog of the reference ecosystem's embedding-dedup stage): each
    vector's blocking keys are its ``top_m`` dimensions by |value|
    (ties broken by index); candidates are pairs sharing >=1 key; exact
    cosine (double precision) filters at ``threshold``. Output:
    (vec_a, vec_b, cosine) with vec_a < vec_b.

    100-TB notes: the blocking keys are computed with JVM array ops
    (transform + array_sort with comparator - no window, no shuffle,
    no UDF); the only shuffles are the dim-key equi-join (hot dims
    dropped past ``max_df`` occurrences, the dense analog of the n-gram
    document-frequency cap) and a distinct on candidate pairs; exact
    cosine runs only on candidates, never all-pairs. Recall is governed
    by top_m (the tuned-recall scale path is similarity.ann_topk_lsh's
    multi-probe hyperplane LSH; this operator is the exact-verify twin
    that an oracle can replicate).
    """
    structs = F.transform(
        F.col("embedding"),
        lambda x, i: F.struct(F.abs(x).alias("a"), i.alias("i")))
    ordered = F.array_sort(
        structs,
        lambda l, r: F.when(l["a"] > r["a"], F.lit(-1))
                      .when(l["a"] < r["a"], F.lit(1))
                      .otherwise(l["i"] - r["i"]))
    # keys feeds three consumers (the df cap + both join sides); the
    # interpreted array_sort comparator makes it worth materializing
    # once (lazy localCheckpoint, same pattern as ngram_jaccard_pairs)
    keys = (embeddings
            .select("vec_id",
                    F.explode(F.slice(ordered, 1, top_m)).alias("k"))
            .select("vec_id", F.col("k.i").alias("dim"))
            .localCheckpoint(eager=False))
    hot = (keys.groupBy("dim")
           .agg(F.count(F.lit(1)).alias("df"))
           .where(F.col("df") > max_df)
           .select("dim"))
    kept = keys.join(hot, "dim", "left_anti")
    cand = (kept.alias("a")
            .join(kept.alias("b"), "dim")
            .where(F.col("a.vec_id") < F.col("b.vec_id"))
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"))
            .distinct())
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    fold = lambda arr: F.aggregate(  # noqa: E731 - sequential double sum
        arr, F.lit(0.0), lambda acc, x: acc + x)
    # round 8: each vector's norm is computed ONCE here (same fold over
    # the same cast array, so the value per vector is unchanged) instead
    # of once per CANDIDATE side - at bench scale that was ~930k norm
    # folds for 465k candidates over 2000 vectors
    nrm = F.sqrt(fold(F.transform(dbl, lambda x: x * x)))
    vecs = embeddings.select("vec_id", dbl.alias("emb"), nrm.alias("nrm"))
    dot = fold(F.zip_with(F.col("ea"), F.col("eb"),
                          lambda x, y: x * y))
    cos = dot / (F.col("na") * F.col("nb"))
    return (cand
            .join(vecs.select(F.col("vec_id").alias("vec_a"),
                              F.col("emb").alias("ea"),
                              F.col("nrm").alias("na")), "vec_a")
            .join(vecs.select(F.col("vec_id").alias("vec_b"),
                              F.col("emb").alias("eb"),
                              F.col("nrm").alias("nb")), "vec_b")
            .where(cos >= threshold)
            .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine")))


def word_ngrams(documents: DataFrame, n: int,
                id_col: str = "doc_id") -> DataFrame:
    """(id, gram) - each document's DISTINCT word n-grams over the
    whitespace-normalized lowercased text (the tokenization every
    dedup/decontamination operator here shares).

    Token array materialized first - see :func:`shingles`."""
    tdf = documents.select(
        id_col, F.split(normalized_text(), " ").alias("__t"))
    w = F.col("__t")
    idx = F.when(
        F.size(w) >= n,
        F.sequence(F.lit(1), F.size(w) - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, n))))
    return tdf.select(id_col, F.explode(grams).alias("gram"))


def benchmark_decontaminate(documents: DataFrame,
                            benchmark: DataFrame,
                            n: int = 8,
                            id_col: str = "doc_id") -> DataFrame:
    """Train-test contamination screen: flag every training document
    sharing any word ``n``-gram with a benchmark/eval set (the
    GPT-3/Llama decontamination recipe: 8-13 word shingle overlap).

    Output: (doc_id, n_bench_grams, contaminated) for EVERY corpus
    document - n_bench_grams counts the doc's distinct n-grams that
    appear anywhere in the benchmark.

    100-TB notes: eval suites are a few MB, so the benchmark's
    distinct-gram set is BROADCAST - the corpus side is one explode
    (scan-side, no shuffle) + broadcast hash join + hash-groupBy on
    doc_id (map-side partial).  The corpus is never shuffled on text
    size and there is no all-pairs anything.  The final left join
    attaches hit counts back to the id spine; its right side holds
    only contaminated ids (usually tiny - AQE broadcasts it).
    """
    bench_grams = (word_ngrams(benchmark, n, id_col=id_col)
                   .select("gram").distinct())
    corpus_grams = word_ngrams(documents, n, id_col=id_col)
    hits = (corpus_grams
            .join(F.broadcast(bench_grams), "gram")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bench_grams")))
    return (documents.select(id_col)
            .join(hits, id_col, "left")
            .select(id_col,
                    F.coalesce("n_bench_grams", F.lit(0)).cast("long")
                     .alias("n_bench_grams"))
            .withColumn("contaminated", F.col("n_bench_grams") > 0))


def incremental_novelty(new_docs: DataFrame, prior_docs: DataFrame,
                        source_col: str = "source") -> DataFrame:
    """Cross-snapshot incremental dedup: which documents of a NEW
    crawl snapshot are novel vs a PRIOR corpus, summarized per source
    - the recrawl gate every periodic web pipeline runs before paying
    for extraction/tokenization of pages it already holds.

    Both sides reduce to (fingerprint) md5 projections before any
    shuffle, so the join moves 16-byte digests, never text: at 100 TB
    the prior corpus contributes one distinct-fingerprint set (its
    own map-side partial dedup) and the anti/semi decision is a plain
    hash join on that digest - no window, no Python, and AQE
    broadcasts the smaller side when a delta crawl meets a big base.
    Per-source novelty rates come from one low-cardinality hash agg.
    """
    new_fp = new_docs.select(
        "doc_id", F.col(source_col).alias("source"),
        F.md5(normalized_text()).alias("fingerprint"))
    prior_fp = (prior_docs
                .select(F.md5(normalized_text()).alias("fingerprint"))
                .distinct())
    flagged = (new_fp.join(prior_fp.withColumn("seen", F.lit(1)),
                           "fingerprint", "left")
               .withColumn("novel", F.col("seen").isNull()))
    return (flagged.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("novel"), 1).otherwise(0))
                  .cast("long").alias("n_novel"),
                 F.round(F.avg(F.when(F.col("novel"), 1.0)
                               .otherwise(0.0)), 6)
                  .alias("novelty_rate")))
