"""Corpus deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard,

embedding near-dup. These are the training-data-pipeline operators a
100 TB web corpus needs in front of the sketch/similarity layer; the
reference's closest primitives are Bloom token filtering
(integration/.../BloomTokenFilter.java) and feature hashing
(mr/.../vectorizer/EncodingMapper.java) — the LSH/minhash machinery is new,
anchored on the standard MinHash construction (Broder '97) and the same
deterministic affine-permutation trick the reference uses for CMS hashing
(HashFunction.java:31-35).

Scale design:
- signatures are computed with ONE groupBy over exploded shingles carrying
  ``num_perm`` min-aggregates — no per-permutation shuffle;
- LSH banding turns the quadratic pair search into equi-joins on
  (band_idx, band_hash); bucket sizes are capped (``max_bucket``) so a
  degenerate bucket (boilerplate pages) cannot produce an O(n²) task —
  the same head-skew guard as the cooccurrence downsampler;
- every hash is md5-affine (no rand()) so retries and both cluster sizes
  produce identical candidates, and the DuckDB oracle can replay the exact
  pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mahout_spark.functions.hashutil import (MERSENNE61, affine_minhash,
                                             affine_minhash_sql, md5_long60,
                                             md5_long60_sql, minhash_params)
from mahout_spark.functions.text import (content_fingerprint,
                                         content_fingerprint_sql,
                                         shingles_array, shingles_array_sql,
                                         shingles_from_tokens, tokens_array,
                                         tokens_array_sql)

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(fingerprint, rep_id, n_dups) for every duplicate group (n >= 2).

    One hash-groupBy — at 10^12 docs this is a single shuffle on a
    high-cardinality key with map-side combine; no skew risk beyond true
    duplicate explosions, which are exactly what we want to find.
    """
    return (df.select(F.col(id_col).alias("__id"),
                      content_fingerprint(F.col(text_col)).alias("fingerprint"))
            .groupBy("fingerprint")
            .agg(F.min("__id").alias("rep_id"), F.count("*").alias("n_dups"))
            .filter(F.col("n_dups") >= 2))


def exact_dedup_groups_sql(table: str, id_col: str, text_col: str) -> str:
    fp = content_fingerprint_sql(text_col)
    return (f"SELECT {fp} AS fingerprint, min({id_col}) AS rep_id, "
            f"count(*) AS n_dups FROM {table} GROUP BY 1 HAVING count(*) >= 2")


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_perm: int = 16, shingle_n: int = 3,
                       seed: int = 1, family: str = "parity") -> DataFrame:
    """(id, sig_0..sig_{P-1}) — MinHash over word shingles.

    One explode + one groupBy carrying P min() aggregates. Two hash
    families, same estimator guarantees:

    - ``parity``: md5-derived 60-bit key + affine permutations with
      driver-generated literal params — decimal(38) arithmetic, exactly
      replayable in DuckDB (the oracle path);
    - ``fast``: P independent ``xxhash64(shingle, perm_seed)`` draws —
      pure JVM long ops (~several x faster); k independent hash functions
      are the textbook MinHash construction.

    Docs with no shingles are dropped (nothing to hash).

    The input is widened first (guide §2.5): a single-row-group source
    file would otherwise run the whole tokenize+shingle+hash map stage as
    ONE task. min() aggregation is insensitive to both duplicates and
    partitioning, so the result is unchanged.
    """
    from mahout_spark.plans.scaleio import widen_partitions

    sh = (widen_partitions(df.select(F.col(id_col).alias("__id"),
                                     F.col(text_col).alias("__t")))
          .select("__id", tokens_array(F.col("__t")).alias("__toks"))
          .select("__id", F.explode(
              shingles_from_tokens(F.col("__toks"), shingle_n)).alias("__s"))
          .distinct())
    if family == "fast":
        aggs = [F.min(F.xxhash64(F.col("__s"), F.lit(seed * 1_000_003 + i)))
                .alias(f"sig_{i}") for i in range(num_perm)]
        return sh.groupBy("__id").agg(*aggs).withColumnRenamed("__id", id_col)
    params = minhash_params(num_perm, seed)
    sh = sh.withColumn("__h", md5_long60(F.col("__s")))
    aggs = [F.min(affine_minhash(F.col("__h"), a, b)).alias(f"sig_{i}")
            for i, (a, b) in enumerate(params)]
    return sh.groupBy("__id").agg(*aggs).withColumnRenamed("__id", id_col)


def minhash_signatures_sql(table: str, id_col: str, text_col: str,
                           num_perm: int = 16, shingle_n: int = 3,
                           seed: int = 1) -> str:
    params = minhash_params(num_perm, seed)
    sharr = shingles_array_sql(text_col, shingle_n)
    h = md5_long60_sql("__s")
    mins = ", ".join(
        f"min({affine_minhash_sql('__h', a, b)}) AS sig_{i}"
        for i, (a, b) in enumerate(params))
    return f"""
SELECT __id AS {id_col}, {mins}
FROM (SELECT __id, {h} AS __h
      FROM (SELECT DISTINCT {id_col} AS __id, unnest({sharr}) AS __s
            FROM {table}))
GROUP BY __id
"""


def lsh_candidate_pairs(sigs: DataFrame, id_col: str, num_perm: int,
                        bands: int, max_bucket: int = 1000) -> DataFrame:
    """(id_a, id_b) candidate pairs sharing at least one LSH band.

    rows_per_band = num_perm // bands. Buckets larger than ``max_bucket``
    are dropped (boilerplate guard) — deterministic, documented cap.
    """
    rows = num_perm // bands
    if bands * rows != num_perm:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    band_rows = []
    for b in range(bands):
        cols = [F.col(f"sig_{b * rows + r}").cast("string")
                for r in range(rows)]
        band_rows.append(sigs.select(
            F.col(id_col).alias("__id"), F.lit(b).alias("band"),
            F.md5(F.concat_ws(",", *cols)).alias("bh")))
    buckets = band_rows[0]
    for br in band_rows[1:]:
        buckets = buckets.unionByName(br)
    sized = buckets.withColumn(
        "__n", F.count("*").over(Window.partitionBy("band", "bh"))
    ).filter(F.col("__n") <= max_bucket)
    # persist: the self-join consumes `sized` twice, and without the pin
    # the whole union-of-bands + window subtree is DUPLICATED in the plan
    # (measured: the two copies were the heaviest stages of the minhash
    # bench). The cache also preserves the window's (band, bh)
    # partitioning, so the equi-join needs no further exchange — both
    # sides zip the same cached partitions.
    sized = sized.persist()
    a = sized.select("band", "bh", F.col("__id").alias("id_a"))
    b = sized.select("band", "bh", F.col("__id").alias("id_b"))
    return (a.join(b, ["band", "bh"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def minhash_dedup_pairs(df: DataFrame, id_col: str, text_col: str,
                        num_perm: int = 16, bands: int = 4,
                        shingle_n: int = 3, seed: int = 1,
                        threshold: float = 0.7,
                        max_bucket: int = 1000,
                        family: str = "fast") -> DataFrame:
    """(id_a, id_b, est_jaccard) — LSH candidates scored by signature

    agreement (fraction of equal minhash components), thresholded.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_n,
                              seed, family=family)
    sigs = sigs.persist()
    cand = lsh_candidate_pairs(sigs, id_col, num_perm, bands, max_bucket)
    sa = sigs.select(F.col(id_col).alias("id_a"),
                     *[F.col(f"sig_{i}").alias(f"a_{i}")
                       for i in range(num_perm)])
    sb = sigs.select(F.col(id_col).alias("id_b"),
                     *[F.col(f"sig_{i}").alias(f"b_{i}")
                       for i in range(num_perm)])
    eq = sum(F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
             for i in range(num_perm))
    return (cand.join(sa, "id_a").join(sb, "id_b")
            .withColumn("est_jaccard",
                        eq.cast("double") / F.lit(float(num_perm)))
            .filter(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", "est_jaccard"))


# ---------------------------------------------------------------------------
# duplicate-group resolution: connected components over dup pairs
# ---------------------------------------------------------------------------


def dedup_groups(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 max_iter: int = 25) -> DataFrame:
    """(group_id, member_id, is_representative) — transitive closure of

    duplicate pairs. The missing last stage of every pair-producing dedup
    operator here (LSH/SimHash/embedding): a-b, b-c, c-d must become ONE
    group with min-id as the deterministic representative.

    Algorithm: min-label propagation with pointer doubling (the
    hash-to-min / large-star shape from Rastogi et al., "Finding
    Connected Components in MapReduce"): each round every vertex takes
    the min of its own label, its neighbors' labels, AND its label's
    label. Doubling makes chains converge in O(log diameter) rounds,
    not O(diameter); dedup graphs (near-clique LSH buckets) typically
    finish in 2-3. Every step is a key-equi-join + min-agg — one shuffle
    each, map-side combinable, no driver data path; the per-round
    convergence check is a bounded count(). Fully deterministic, so the
    DuckDB recursive-CTE oracle replays it exactly.
    """
    e = pairs.select(F.col(id_a).alias("s"), F.col(id_b).alias("d"))
    edges = (e.unionByName(e.select(F.col("d").alias("s"),
                                    F.col("s").alias("d")))
             .distinct().persist())
    labels = (edges.select(F.col("s").alias("v")).distinct()
              .select("v", F.col("v").alias("lbl"))
              .localCheckpoint(eager=True))
    for _ in range(max_iter):
        nbr = (edges.join(labels.select(F.col("v").alias("d"),
                                        F.col("lbl").alias("nl")), "d")
               .groupBy("s").agg(F.min("nl").alias("nl")))
        step = (labels.join(nbr.select(F.col("s").alias("v"), "nl"),
                            "v", "left")
                .select("v", F.least("lbl",
                                     F.coalesce("nl", "lbl")).alias("lbl")))
        # pointer doubling: lbl(v) <- min(lbl(v), lbl(lbl(v))). The
        # self-join references `step` twice, so WITHOUT lineage
        # truncation the logical plan doubles per round (exponential —
        # a 64-chain blew past Spark's 2 GB plan-string cap);
        # localCheckpoint keeps each round's plan O(1).
        new = (step.join(step.select(F.col("v").alias("lbl"),
                                     F.col("lbl").alias("ll")), "lbl", "left")
               .select("v", F.least("lbl",
                                    F.coalesce("ll", "lbl")).alias("lbl"))
               .localCheckpoint(eager=True))
        changed = (new.join(labels.select("v", F.col("lbl").alias("old")),
                            "v")
                   .filter(F.col("lbl") != F.col("old")).count())
        labels = new
        if changed == 0:
            break
    edges.unpersist()
    return labels.select(F.col("lbl").alias("group_id"),
                         F.col("v").alias("member_id"),
                         (F.col("v") == F.col("lbl"))
                         .alias("is_representative"))


def dedup_groups_sql(pairs_sql: str, id_a: str = "id_a",
                     id_b: str = "id_b") -> str:
    """DuckDB twin: exact transitive closure via a recursive CTE (min

    reachable id per vertex) over the same pair set."""
    return f"""
WITH RECURSIVE pairs AS (SELECT * FROM ({pairs_sql})),
edges AS (SELECT {id_a} AS s, {id_b} AS d FROM pairs
          UNION
          SELECT {id_b} AS s, {id_a} AS d FROM pairs),
reach(v, r) AS (
  SELECT DISTINCT s, s FROM edges
  UNION
  SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.v
)
SELECT min(r) AS group_id, v AS member_id,
       (v = min(r)) AS is_representative
FROM reach GROUP BY v
"""


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (verification / small-scale oracle)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        shingle_n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """(id_a, id_b, jaccard) exact shingle-set Jaccard for pairs sharing

    ≥1 shingle. Integer intersection/union + one division — engine-exact.
    Quadratic in shingle document-frequency: at corpus scale use
    minhash_dedup_pairs and reserve this as the verifier on candidates.
    """
    sh = (df.select(F.col(id_col).alias("__id"),
                    tokens_array(F.col(text_col)).alias("__toks"))
          .select("__id", F.explode(F.array_distinct(
              shingles_from_tokens(F.col("__toks"), shingle_n)))
              .alias("__s")))
    # pinned: sh feeds three consumers (sizes + both join sides) and
    # sizes two aliased joins — without the pins each branch re-derives
    # the whole tokenize+shingle subtree (same pattern as rowsim norms)
    sh = sh.persist()
    sizes = sh.groupBy("__id").agg(F.count("*").alias("sz")).persist()
    a = sh.select(F.col("__id").alias("id_a"), "__s")
    b = sh.select(F.col("__id").alias("id_b"), "__s")
    inter = (a.join(b, "__s").filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("inter")))
    return (inter
            .join(sizes.select(F.col("__id").alias("id_a"),
                               F.col("sz").alias("sz_a")), "id_a")
            .join(sizes.select(F.col("__id").alias("id_b"),
                               F.col("sz").alias("sz_b")), "id_b")
            .withColumn("jaccard", F.col("inter").cast("double") /
                        (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                        .cast("double"))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def ngram_jaccard_pairs_sql(table: str, id_col: str, text_col: str,
                            shingle_n: int = 3,
                            threshold: float = 0.5) -> str:
    sharr = shingles_array_sql(text_col, shingle_n)
    return f"""
WITH sh AS (SELECT DISTINCT {id_col} AS id, unnest(list_distinct({sharr})) AS s
            FROM {table}),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
          GROUP BY 1, 2)
SELECT id_a, id_b,
       i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE AS jaccard
FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
WHERE i::DOUBLE / (sa.sz + sb.sz - i)::DOUBLE >= {threshold}
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 48  # md5_long60 gives 60 usable bits; 48 keeps exprs compact


def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash) — Charikar sign-random-projection over token md5 bits.

    Per bit j: sum over token occurrences of ±1 by bit j of md5(token);
    signature bit j set iff sum > 0. One explode + one groupBy with ``bits``
    integer sums — all-integer, engine-exact, no UDF.
    """
    toks = df.select(F.col(id_col).alias("__id"),
                     F.explode(tokens_array(F.col(text_col))).alias("__t"))
    h = md5_long60(F.col("__t"))
    aggs = [F.sum(F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1,
                         1).otherwise(-1)).alias(f"s_{j}")
            for j in range(bits)]
    per_bit = toks.groupBy("__id").agg(*aggs)
    sig = sum((F.when(F.col(f"s_{j}") > 0,
                      F.lit(1).cast("long") * (1 << j)).otherwise(F.lit(0)))
              for j in range(bits))
    return per_bit.select(F.col("__id").alias(id_col),
                          sig.alias("simhash"))


def simhash_sql(table: str, id_col: str, text_col: str,
                bits: int = SIMHASH_BITS) -> str:
    toks = tokens_array_sql(text_col)
    h = md5_long60_sql("__t")
    sums = ", ".join(
        f"sum(CASE WHEN (__h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{j}"
        for j in range(bits))
    sig = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN {1 << j}::BIGINT ELSE 0 END)"
        for j in range(bits))
    return f"""
WITH toks AS (SELECT {id_col} AS __id, unnest({toks}) AS __t FROM {table}),
hashed AS (SELECT __id, {h} AS __h FROM toks),
bitsum AS (SELECT __id, {sums} FROM hashed GROUP BY __id)
SELECT __id AS {id_col}, {sig} AS simhash FROM bitsum
"""


def simhash_neardup_pairs(df: DataFrame, id_col: str, text_col: str,
                          max_hamming: int = 3,
                          bits: int = SIMHASH_BITS) -> DataFrame:
    """(id_a, id_b, hamming) pairs within ``max_hamming``; blocked on

    16-bit signature chunks (a pair within distance d ≤ chunks-1 shares at
    least one exact chunk — pigeonhole), so no quadratic scan.
    """
    sigs = simhash(df, id_col, text_col, bits).persist()
    n_chunks = max(max_hamming + 1, 3)
    chunk_bits = bits // n_chunks
    blocks = None
    for c in range(n_chunks):
        part = (F.shiftright(F.col("simhash"), c * chunk_bits)
                .bitwiseAND(F.lit((1 << chunk_bits) - 1)))
        bdf = sigs.select(F.col(id_col).alias("__id"), "simhash",
                          F.lit(c).alias("chunk"), part.alias("cv"))
        blocks = bdf if blocks is None else blocks.unionByName(bdf)
    a = blocks.select("chunk", "cv", F.col("__id").alias("id_a"),
                      F.col("simhash").alias("sig_a"))
    b = blocks.select("chunk", "cv", F.col("__id").alias("id_b"),
                      F.col("simhash").alias("sig_b"))
    pairs = (a.join(b, ["chunk", "cv"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sig_a", "sig_b").distinct()
             .withColumn("hamming", F.bit_count(
                 F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
             .filter(F.col("hamming") <= max_hamming))
    return pairs.select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# embedding near-dup: banded sign-LSH candidates -> exact cosine verify
# ---------------------------------------------------------------------------


def embedding_neardup_lsh(df: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          threshold: float = 0.3, n_bands: int = 4,
                          band_planes: int = 4,
                          seed: int = 11, dim: int | None = None) -> DataFrame:
    """(id_a, id_b, cos) — near-duplicate embedding pairs at scale.

    Production shape of the all-pairs embedding near-dup: banded
    sign-random-projection LSH (Charikar) generates candidates via
    per-band equi-joins on (band, bucket) — no cartesian pair scan — and
    an exact cosine re-check keeps only pairs >= ``threshold``. Per-band
    collision probability is (1 - theta/pi)^band_planes; bands are OR-ed,
    so recall rises with ``n_bands`` and the all-pairs variant remains
    the pytest oracle for recall. Hyperplanes are seeded literals, so the
    DuckDB gate oracle replays every bucket decision exactly.
    """
    from mahout_spark.operators.ann import _planes, cosine_expr, signs_expr

    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    planes = _planes(dim, n_bands * band_planes, seed)
    keyed = df.select(F.col(id_col).alias("__id"),
                      F.col(vec_col).alias("__v"))
    banded = None
    for b in range(n_bands):
        band = keyed.select(
            "__id", F.lit(b).alias("__band"),
            signs_expr(F.col("__v"),
                       planes[b * band_planes:(b + 1) * band_planes])
            .alias("__bucket"))
        banded = band if banded is None else banded.unionByName(band)
    a = banded.select(F.col("__id").alias("id_a"), "__band", "__bucket")
    bb = banded.select(F.col("__id").alias("id_b"), "__band", "__bucket")
    cand = (a.join(bb, ["__band", "__bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    ea = keyed.select(F.col("__id").alias("id_a"), F.col("__v").alias("__va"))
    eb = keyed.select(F.col("__id").alias("id_b"), F.col("__v").alias("__vb"))
    verified = (cand.join(ea, "id_a").join(eb, "id_b")
                .select("id_a", "id_b",
                        cosine_expr(F.col("__va"), F.col("__vb"))
                        .alias("cos"))
                .filter(F.col("cos") >= threshold))
    return verified


def embedding_neardup_lsh_sql(table: str, dim: int, id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              threshold: float = 0.3, n_bands: int = 4,
                              band_planes: int = 4, seed: int = 11) -> str:
    """DuckDB twin of embedding_neardup_lsh: same literal hyperplanes, same

    sequential-fold dot products (list_dot_product matches zip_with/
    aggregate bit-for-bit), same band/bucket decisions, same verify."""
    from mahout_spark.operators.ann import _planes, cosine_sql

    planes = _planes(dim, n_bands * band_planes, seed)

    def bucket_expr(b: int) -> str:
        terms = []
        for j in range(band_planes):
            p = planes[b * band_planes + j]
            arr = "[" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[]"
            terms.append(
                f"(CASE WHEN list_dot_product(({vec_col})::DOUBLE[], {arr})"
                f" > 0 THEN {1 << j} ELSE 0 END)")
        return " + ".join(terms)

    band_selects = " UNION ALL ".join(
        f"SELECT {id_col} AS id, {b} AS band, {bucket_expr(b)} AS bucket "
        f"FROM {table}" for b in range(n_bands))
    cos = cosine_sql(f"ea.{vec_col}", f"eb.{vec_col}")
    return f"""
WITH banded AS ({band_selects}),
cand AS (SELECT DISTINCT x.id AS id_a, y.id AS id_b
         FROM banded x JOIN banded y
           ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id)
SELECT id_a, id_b, {cos} AS cos
FROM cand JOIN {table} ea ON ea.{id_col} = id_a
          JOIN {table} eb ON eb.{id_col} = id_b
WHERE {cos} >= {threshold}
"""


# ---------------------------------------------------------------------------
# representative selection / corpus filtering on resolved groups
# ---------------------------------------------------------------------------

def pick_representatives(groups: DataFrame, scores: DataFrame,
                         id_col: str, score_col: str) -> DataFrame:
    """Re-designate each group's representative by QUALITY instead of
    min-id: argmax score, ties broken by min member id — what a real
    corpus dedup keeps (e.g. the Gopher-filtered / longest page).

    ``groups`` is ``dedup_groups`` output; ``scores`` maps id → score
    (members missing from ``scores`` score -inf and can never win
    unless the whole group is unscored, where min-id wins).

    Shape: groupBy-max then min-id among the argmax rows — two
    map-side-combinable aggregations + one equi-join, no window, works
    for any id type, deterministic.
    """
    g = groups.join(
        scores.select(F.col(id_col).alias("member_id"),
                      F.col(score_col).cast("double").alias("__score")),
        "member_id", "left") \
        .withColumn("__score", F.coalesce(
            F.col("__score"), F.lit(float("-inf"))))
    best = g.groupBy("group_id").agg(F.max("__score").alias("__best"))
    winner = (g.join(best, "group_id")
              .where(F.col("__score") == F.col("__best"))
              .groupBy("group_id").agg(F.min("member_id").alias("__rep")))
    return (g.join(winner, "group_id")
            .select("group_id", "member_id",
                    (F.col("member_id") == F.col("__rep"))
                    .alias("is_representative")))


def pick_representatives_sql(groups_sql: str, scores_sql: str,
                             id_col: str, score_col: str) -> str:
    """DuckDB twin of ``pick_representatives`` (same tie rules)."""
    return f"""
WITH __pr_g0 AS ({groups_sql}),
__pr_sc AS (SELECT {id_col} AS member_id, ({score_col})::DOUBLE AS s
            FROM ({scores_sql})),
__pr_g AS (SELECT __pr_g0.group_id, __pr_g0.member_id,
                  coalesce(__pr_sc.s, '-infinity'::DOUBLE) AS s
           FROM __pr_g0 LEFT JOIN __pr_sc USING (member_id)),
__pr_best AS (SELECT group_id, max(s) AS b FROM __pr_g GROUP BY group_id),
__pr_winner AS (SELECT __pr_g.group_id, min(__pr_g.member_id) AS rep
                FROM __pr_g JOIN __pr_best
                  ON __pr_g.group_id = __pr_best.group_id
                WHERE __pr_g.s = __pr_best.b GROUP BY __pr_g.group_id)
SELECT __pr_g.group_id, __pr_g.member_id,
       (__pr_g.member_id = __pr_winner.rep) AS is_representative
FROM __pr_g JOIN __pr_winner ON __pr_g.group_id = __pr_winner.group_id
"""


def dedup_filter(df: DataFrame, groups: DataFrame, id_col: str,
                 score_col: str | None = None) -> DataFrame:
    """Corpus minus duplicate copies: keeps each group's representative
    (min-id, or best-``score_col`` via ``pick_representatives``) and
    every row that is in no group. One anti-join against the loser set
    — the loser frame is the small side (duplicates only)."""
    if score_col is not None:
        groups = pick_representatives(groups, df, id_col, score_col)
    losers = groups.where(~F.col("is_representative")) \
        .select(F.col("member_id").alias(id_col))
    return df.join(losers, id_col, "left_anti")
