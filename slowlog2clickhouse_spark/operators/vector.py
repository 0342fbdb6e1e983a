"""Vector similarity-search operators — SURVEY.md §2 I (north star).

Embedding ops over `embeddings(vec_id, embedding float[64], label)`:
pairwise cosine, brute-force k-NN (the correctness baseline), label
centroids, and an LSH-bucketed ANN variant (the scale path).

All vector math is higher-order functions (zip_with/aggregate/
transform) on array<double> — JVM-side, codegen'd, zero Python
serialization (SURVEY.md §7 G11). At 100 TB the brute-force k-NN's
probe×corpus cross join is replaced by vec_knn_lsh's bucket equi-join;
both are here so the trade is explicit and benchmarkable.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from slowlog2clickhouse_spark.io import load_table
from slowlog2clickhouse_spark.registry import op

_add = lambda a, x: a + x  # noqa: E731


def _emb_double(col="embedding"):
    return F.transform(col, lambda x: x.cast("double"))


def cosine(ea, eb):
    """cos(a,b) as pure higher-order fns (dot / (|a|*|b|))."""
    dot = F.aggregate(F.zip_with(ea, eb, lambda x, y: x * y), F.lit(0.0), _add)
    na = F.sqrt(F.aggregate(F.transform(ea, lambda x: x * x), F.lit(0.0), _add))
    nb = F.sqrt(F.aggregate(F.transform(eb, lambda x: x * x), F.lit(0.0), _add))
    return dot / (na * nb)


@op(
    "vec_cosine_pairs",
    oracle="""
    SELECT a.vec_id, round(list_cosine_similarity(list_transform(a.embedding, x -> CAST(x AS DOUBLE)), list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos_next
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    """,
)
def vec_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine similarity between consecutive embedding pairs."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select("vec_id", _emb_double().alias("ea"))
    b = e.select((F.col("vec_id") - 1).alias("vec_id"), _emb_double().alias("eb"))
    return a.join(b, "vec_id").select(
        "vec_id", F.round(cosine(F.col("ea"), F.col("eb")), 6).alias("cos_next")
    )


@op(
    "vec_knn_topk",
    oracle="""
    SELECT probe_id, cand_id, cos_sim, cast(rn AS BIGINT) AS rn FROM (
      SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
             round(list_cosine_similarity(list_transform(p.embedding, x -> CAST(x AS DOUBLE)), list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY p.vec_id
               ORDER BY round(list_cosine_similarity(list_transform(p.embedding, x -> CAST(x AS DOUBLE)), list_transform(c.embedding, x -> CAST(x AS DOUBLE))), 6) DESC,
                        c.vec_id ASC) AS rn
      FROM embeddings p JOIN embeddings c ON p.vec_id < 5 AND c.vec_id >= 5
    ) t WHERE rn <= 5
    """,
)
def vec_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine k-NN: probes × corpus, top-k per probe.

    The correctness baseline for ANN. Ranking runs on the ROUNDED
    similarity with vec_id tiebreak so order is engine-independent.
    Scale: probes broadcast (small side); the corpus never shuffles —
    per-partition top-k then a k-row merge. For big probe sets use
    vec_knn_lsh.
    """
    e = load_table(spark, sf_dir, "embeddings")
    probes = e.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), _emb_double().alias("pe")
    )
    cands = e.where(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("cand_id"), _emb_double().alias("ce")
    )
    scored = cands.join(F.broadcast(probes)).select(
        "probe_id",
        "cand_id",
        F.round(cosine(F.col("pe"), F.col("ce")), 6).alias("cos_sim"),
    )
    w = W.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w).cast("long")).where(
        F.col("rn") <= 5
    )


def label_centroids(e: DataFrame) -> DataFrame:
    """Per-label mean vector as (label, centroid array<double>) —
    order-preserving reassembly via sort_array(collect_list(struct)).
    INTERNAL form: array columns crash the driver's pandas
    canonicalizer, so the registered op below emits the long form."""
    comp = e.select("label", F.posexplode(_emb_double())).select(
        "label", F.col("pos"), F.col("col").alias("v")
    )
    avgs = comp.groupBy("label", "pos").agg(F.round(F.avg("v"), 6).alias("comp"))
    return avgs.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "comp"))),
            lambda s: s.comp,
        ).alias("centroid")
    )


@op(
    "vec_centroid",
    oracle="""
    SELECT label, cast(pos AS BIGINT) AS pos, round(avg(v), 6) AS comp FROM (
      SELECT label, unnest(embedding) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings) t
    GROUP BY 1, 2
    """,
)
def vec_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean vector, emitted LONG (label, pos, comp) — one
    row per vector component, every column scalar (driver-hashable;
    ``label_centroids`` reassembles the array form for consumers).

    Scale: shuffle cardinality is |labels| × dim (tiny); the explode
    is map-side. This is the pattern for any elementwise vector agg.
    """
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select("label", F.posexplode(_emb_double())).select(
        "label", (F.col("pos") + 1).cast("long").alias("pos"), F.col("col").alias("v")
    )
    return comp.groupBy("label", "pos").agg(F.round(F.avg("v"), 6).alias("comp"))


IVF_K = 16  # coarse cells (≈√n at test SF; ~4096 at corpus scale)
IVF_NPROBE = 4  # search the 4 nearest cells per probe


# DuckDB mirrors of the fold-ordered vector math: list_reduce is a
# sequential left fold, and Spark's aggregate(zip_with) starts at
# lit(0.0) (0.0 + x1 ≡ x1 exactly) — so dot products, norms and
# cosines are IEEE-bit-identical cross-engine, which is what makes
# the UNROUNDED argmax cell assignment below safe to oracle-check.
def _duck_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1),"
        f" i -> {a}[i] * {b}[i]), (s, x) -> s + x)"
    )


def _duck_norm(a: str) -> str:
    return f"sqrt(list_reduce(list_transform({a}, x -> x * x), (s, x) -> s + x))"


def _duck_cos(a: str, b: str) -> str:
    return f"({_duck_dot(a, b)}) / ({_duck_norm(a)} * {_duck_norm(b)})"


def _ivf_duck(nprobe: int) -> str:
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS hk
      FROM embeddings),
    cents AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY hk, vec_id) AS cent_id, ed AS cent
      FROM e ORDER BY hk, vec_id LIMIT {IVF_K}),
    cand_sc AS MATERIALIZED (
      SELECT e.vec_id AS cand_id, e.ed AS ce, c.cent_id,
             {_duck_cos("e.ed", "c.cent")} AS cos_c
      FROM e JOIN cents c ON e.vec_id >= 20),
    cand_cells AS (
      SELECT cand_id, ce, cent_id AS cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY cand_id ORDER BY cos_c DESC, cent_id ASC) AS rnc
        FROM cand_sc) t WHERE rnc = 1),
    probe_sc AS MATERIALIZED (
      SELECT e.vec_id AS probe_id, e.ed AS pe, c.cent_id,
             {_duck_cos("e.ed", "c.cent")} AS cos_c
      FROM e JOIN cents c ON e.vec_id < 20),
    probe_cells AS (
      SELECT probe_id, pe, cent_id AS cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY cos_c DESC, cent_id ASC) AS rnc
        FROM probe_sc) t WHERE rnc <= {nprobe})
    SELECT probe_id, cand_id, cos_sim, CAST(rn AS BIGINT) AS rn FROM (
      SELECT p.probe_id, c.cand_id,
             round({_duck_cos("p.pe", "c.ce")}, 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY p.probe_id
               ORDER BY round({_duck_cos("p.pe", "c.ce")}, 6) DESC,
                        c.cand_id ASC) AS rn
      FROM probe_cells p JOIN cand_cells c USING (cell)
    ) t WHERE rn <= 3
    """


_IVF_DUCK = _ivf_duck(IVF_NPROBE)


def ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """Parameterized IVF top-3 (see vec_knn_ivf for the design
    contract); nprobe is the probe-side fan-out knob the sweep op
    turns."""
    return _vec_knn_ivf_impl(spark, sf_dir, nprobe)


@op("vec_knn_ivf", oracle=_IVF_DUCK)
def vec_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via an IVF (inverted-file) coarse index, the FAISS-style
    alternative to vec_knn_lsh:

      1. centroids = a deterministic hash-ranked sample of K corpus
         vectors (md5-ranked since r5 — portable across engines, no
         RNG state, rerun-stable);
      2. every corpus vector is assigned to its nearest centroid via a
         broadcast of the K-row centroid table + map-side partial
         ``max_by`` (the shuffle carries ONE row per vector, not K);
      3. probes search only their IVF_NPROBE nearest cells — the
         probe×corpus cross join becomes a cell equi-join with
         expected cell size n/K.

    Recall vs the brute-force baseline is pinned in tests/test_vector.py.
    """
    return _vec_knn_ivf_impl(spark, sf_dir, IVF_NPROBE)


def _vec_knn_ivf_impl(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int,
    e: DataFrame | None = None,
    parsed: DataFrame | None = None,
) -> DataFrame:
    hk = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    if parsed is not None:
        # r16 (guide §2.4/§6): caller already holds the parsed
        # (vec_id, ed) corpus — ann_recall_eval's checkpointed base —
        # so ride it instead of a second parquet scan + cast pass; hk
        # derives from vec_id alone, identical values either way
        with_e = parsed.select("vec_id", "ed", hk.alias("hk"))
    else:
        if e is None:
            e = load_table(spark, sf_dir, "embeddings")
        with_e = e.select("vec_id", _emb_double().alias("ed"), hk.alias("hk"))

    cents = (
        with_e.orderBy("hk", "vec_id")
        .limit(IVF_K)
        .select(
            F.row_number().over(W.orderBy("hk", "vec_id")).alias("cent_id"),
            F.col("ed").alias("cent"),
        )
    )

    def nearest_cells(side: DataFrame, id_col: str, n_cells: int) -> DataFrame:
        scored = side.join(F.broadcast(cents)).select(
            id_col,
            "ed",
            "cent_id",
            cosine(F.col("ed"), F.col("cent")).alias("cos_c"),
        )
        w = W.partitionBy(id_col).orderBy(F.col("cos_c").desc(), F.col("cent_id"))
        return (
            scored.withColumn("rnc", F.row_number().over(w))
            .where(F.col("rnc") <= n_cells)
            .select(id_col, "ed", F.col("cent_id").alias("cell"))
        )

    cands = with_e.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), "ed"
    )
    # corpus side: exactly ONE cell per vector — partial max_by keeps the
    # shuffle at |corpus| rows even though the broadcast fans out ×K
    cand_scored = cands.join(F.broadcast(cents)).select(
        "cand_id",
        "ed",
        "cent_id",
        cosine(F.col("ed"), F.col("cent")).alias("cos_c"),
    )
    cand_cells = (
        cand_scored.groupBy("cand_id")
        .agg(
            F.expr(
                "max_by(named_struct('cell', cent_id, 'ce', ed),"
                " named_struct('c', cos_c, 'i', -cent_id))"
            ).alias("m")
        )
        .select("cand_id", F.col("m.cell").alias("cell"), F.col("m.ce").alias("ce"))
    )

    probes = with_e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), "ed"
    )
    probe_cells = nearest_cells(probes, "probe_id", nprobe).select(
        "probe_id", F.col("ed").alias("pe"), "cell"
    )

    scored = cand_cells.join(F.broadcast(probe_cells), "cell").select(
        "probe_id",
        "cand_id",
        F.round(cosine(F.col("pe"), F.col("ce")), 6).alias("cos_sim"),
    )
    # each candidate lives in exactly one cell, so (probe, cand) pairs
    # are already unique — no dedup shuffle needed
    w = W.partitionBy("probe_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)


N_PLANES = 8
_rng = random.Random(42)
PLANES = [
    [_rng.gauss(0.0, 1.0) for _ in range(64)] for _ in range(N_PLANES)
]
# Registered-default config (VERDICT r6 #3, picked by measurement via
# the ann_recall_eval harness at sf0.01): 5 planes + Hamming-1
# multi-probe -> recall@3 = 0.40 scoring ~21% of the corpus per probe.
# The r5 default (8 planes, single-probe) measured recall@3 = 0.03 --
# kept below as the cautionary arm of the recall evaluation.
N_PLANES_DEFAULT = 5


# The oracle embeds the SAME seeded plane constants as SQL literals
# (repr() round-trips doubles exactly) and sums the dot product as a
# left-assoc `ed[1]*c1 + ed[2]*c2 + ...` chain -- the identical IEEE
# evaluation order as Spark's aggregate(zip_with) fold, so every sign
# bit (hence every bucket id) matches bit-for-bit cross-engine.
def _lsh_bucket_sql(col: str, planes: list[list[float]]) -> str:
    bits = []
    for p, plane in enumerate(planes):
        dot = " + ".join(f"{col}[{i + 1}]*({c!r})" for i, c in enumerate(plane))
        bits.append(f"(CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


def _lsh_knn_duck(planes: list[list[float]], multiprobe: bool) -> str:
    """DuckDB mirror of _lsh_knn_df for the same (planes, probe) config."""
    if multiprobe:
        xs = ", ".join(f"xor(bucket, {1 << p})" for p in range(len(planes)))
        probe_part = f"""
    pq AS (
      SELECT vec_id AS probe_id, ed AS pe,
             unnest([bucket, {xs}]) AS qb
      FROM b WHERE vec_id < 20)"""
    else:
        probe_part = """
    pq AS (
      SELECT vec_id AS probe_id, ed AS pe, bucket AS qb
      FROM b WHERE vec_id < 20)"""
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
      FROM embeddings),
    b AS MATERIALIZED (
      SELECT vec_id, ed, {_lsh_bucket_sql("ed", planes)} AS bucket FROM e),
    {probe_part}
    SELECT probe_id, cand_id, cos_sim, CAST(rn AS BIGINT) AS rn FROM (
      SELECT p.probe_id, c.vec_id AS cand_id,
             round(list_cosine_similarity(p.pe, c.ed), 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY p.probe_id
               ORDER BY round(list_cosine_similarity(p.pe, c.ed), 6) DESC,
                        c.vec_id ASC) AS rn
      FROM pq p JOIN b c ON c.vec_id >= 20 AND p.qb = c.bucket
    ) t WHERE rn <= 3
    """


def _lsh_bucket_col(col, planes):
    """Sign-bit bucket id as a JVM-side higher-order-function chain."""
    bits = []
    for p, plane in enumerate(planes):
        plane_arr = F.array(*[F.lit(x) for x in plane])
        dot = F.aggregate(
            F.zip_with(col, plane_arr, lambda x, y: x * y), F.lit(0.0), _add
        )
        bits.append(F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return sum(bits)


def _lsh_knn_from_bucketed(
    with_bucket: DataFrame,
    n_planes: int,
    multiprobe: bool,
) -> DataFrame:
    """LSH k-NN join stage over a PRE-BUCKETED corpus
    ``(vec_id, ed, bucket)``: equi-join probe buckets (optionally
    fanned out to the Hamming-1 neighborhood over ``n_planes`` sign
    bits) against the corpus, top-3 per probe. Split out (r7) so
    ann_recall_eval can feed several arms from ONE bucketing pass —
    the 5-plane bucket is the low-5-bit mask of the 8-plane bucket.

    Scale contract (identical for every config): the corpus side is
    bucketed ONCE and only ever equi-joined -- never self-shuffled and
    never cross-joined; the tiny probe panel broadcasts, and multi-probe
    fans out only that panel x(1+planes). Each candidate lives in
    exactly one bucket and the probe's query keys are distinct, so the
    join emits no duplicate (probe, cand) pairs -- no dedup shuffle.
    """
    probes = with_bucket.where(F.col("vec_id") < 20)
    if multiprobe:
        probes = probes.select(
            F.col("vec_id").alias("probe_id"),
            F.col("ed").alias("pe"),
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << p))
                        for p in range(n_planes)
                    ],
                )
            ).alias("qb"),
        )
    else:
        probes = probes.select(
            F.col("vec_id").alias("probe_id"),
            F.col("ed").alias("pe"),
            F.col("bucket").alias("qb"),
        )
    cands = with_bucket.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"),
        F.col("ed").alias("ce"),
        F.col("bucket").alias("cb"),
    )
    scored = cands.join(
        F.broadcast(probes), F.col("qb") == F.col("cb")
    ).select(
        "probe_id",
        "cand_id",
        F.round(cosine(F.col("pe"), F.col("ce")), 6).alias("cos_sim"),
    )
    w = W.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)


def _lsh_knn_df(
    spark: SparkSession,
    sf_dir: str,
    planes: list[list[float]],
    multiprobe: bool,
) -> DataFrame:
    """Standalone LSH k-NN: one scan, bucket with exactly `planes`,
    then the shared join stage (_lsh_knn_from_bucketed)."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = _emb_double()
    with_bucket = e.select(
        "vec_id", emb.alias("ed"), _lsh_bucket_col(emb, planes).alias("bucket")
    )
    return _lsh_knn_from_bucketed(with_bucket, len(planes), multiprobe)


_KNN_LSH_DUCK = _lsh_knn_duck(PLANES[:N_PLANES_DEFAULT], multiprobe=True)
_KNN_LSH_MP_DUCK = _lsh_knn_duck(PLANES, multiprobe=True)
_KNN_LSH_8P_SINGLE_DUCK = _lsh_knn_duck(PLANES, multiprobe=False)


@op("vec_knn_lsh", oracle=_KNN_LSH_DUCK)
def vec_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH, in its USABLE default config
    (r7): 5 fixed Gaussian planes -> sign-bit bucket id; each probe
    queries its own bucket plus the 5 Hamming-1 neighbors. Picked by
    measurement (ann_recall_eval at sf0.01): recall@3 = 0.40 while
    scoring ~21% of the corpus per probe -- vs 0.03 recall for the old
    8-plane single-probe default, whose sign-bit slicing was so fine
    that true neighbors rarely agreed on all 8 bits (that config
    survives as ann_recall_eval's cautionary arm).

    THE 100 TB path: the probe x corpus cross join becomes a bucket
    equi-join; recall stays tunable via plane count / probe fan-out.
    Planes are seeded constants so results are deterministic
    run-to-run, and bucket ids are reproduced literally by the DuckDB
    oracle (module comment above).
    """
    return _lsh_knn_df(spark, sf_dir, PLANES[:N_PLANES_DEFAULT], multiprobe=True)


@op("vec_knn_lsh_multiprobe", oracle=_KNN_LSH_MP_DUCK)
def vec_knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane LSH at FULL plane count: 8 planes, each
    probe querying its own bucket plus the 8 Hamming-1 neighbors --
    the high-precision/lower-recall end of the dial (recall@3 = 0.12
    scoring only ~5% of the corpus per probe at sf0.01, vs the
    5-plane default's 0.40 at ~21%). Use this config when bucket
    selectivity matters more than recall (e.g. pre-filter before an
    exact re-rank).

    Scale: identical contract to vec_knn_lsh (see _lsh_knn_df) -- the
    corpus side is untouched; only the tiny probe panel fans out
    x(1+planes). Multi-probe is the knob you turn BEFORE adding planes
    or tables, because it trades probe-side work -- the cheap side --
    for recall.
    """
    return _lsh_knn_df(spark, sf_dir, PLANES, multiprobe=True)


@op(
    "vec_quantize_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
      FROM embeddings),
    comp AS (
      SELECT generate_subscripts(ed, 1) AS pos, unnest(ed) AS v FROM e),
    st AS (SELECT pos, min(v) AS mn, max(v) AS mx FROM comp GROUP BY pos),
    stats AS (
      SELECT list(mn ORDER BY pos) AS mins,
             list(greatest(mx - mn, 1e-9) ORDER BY pos) AS rng
      FROM st),
    coded AS (
      SELECT vec_id, ed, mins, rng,
             list_transform(range(1, len(ed) + 1), i ->
               CAST(round((ed[i] - mins[i]) / rng[i] * 255, 0) AS INTEGER))
                 AS codes
      FROM e, stats),
    recon AS (
      SELECT vec_id, ed, codes,
             list_transform(range(1, len(ed) + 1), i ->
               mins[i] + CAST(codes[i] AS DOUBLE) / 255 * rng[i]) AS dq
      FROM coded)
    SELECT vec_id,
           round(
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(range(1, len(ed) + 1), i -> ed[i] * dq[i])),
               (a, x) -> a + x)
             / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                  list_transform(ed, x -> x * x)), (a, x) -> a + x))
                * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(dq, x -> x * x)), (a, x) -> a + x))),
             6) AS cos_fidelity,
           round(list_max(list_transform(range(1, len(ed) + 1), i ->
                 abs(ed[i] - dq[i]))), 6) AS max_abs_err,
           CAST(list_min(codes) AS BIGINT) AS code_min,
           CAST(list_max(codes) AS BIGINT) AS code_max
    FROM recon
    """,
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization fidelity: per-dimension corpus min/max
    → 8-bit codes → dequantize → cosine(original, reconstruction).
    Oracle-checked: the whole chain is deterministic double arithmetic
    (mins/rng broadcast stats, affine code/decode, LEFT-fold dot
    products mirrored by list_reduce), rounded at 6 decimals.

    The memory/bandwidth lever for ANN at scale — int8 codes cut the
    corpus footprint 4× (float32) before any index structure, which is
    what makes 100-TB embedding sets shuffle-able at all. Everything is
    higher-order functions: the dim-stats table is ONE row of two
    arrays (posexplode → per-pos min/max → ordered reassembly) and is
    broadcast; quantize/dequantize are `transform` lambdas using the
    element index; no Python, no collect. tests/test_vector.py pins
    reconstruction fidelity > 0.995 and code range ⊆ [0, 255].

    Output per vector: the cosine between original and reconstruction
    (rounded 6) plus the max absolute per-component error.
    """
    e = load_table(spark, sf_dir, "embeddings")
    with_e = e.select("vec_id", _emb_double().alias("ed"))
    comp = with_e.select("vec_id", F.posexplode("ed")).select(
        "pos", F.col("col").alias("v")
    )
    stats = (
        comp.groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .groupBy()
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "mn"))), lambda s: s.mn
            ).alias("mins"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "mx"))), lambda s: s.mx
            ).alias("maxs"),
        )
        .select(
            "mins",
            F.zip_with(
                "maxs", "mins", lambda hi, lo: F.greatest(hi - lo, F.lit(1e-9))
            ).alias("rng"),
        )
    )
    # 2-param transform lambda receives (element, index) — used here to
    # index the broadcast per-dimension stats arrays
    quant = F.transform(
        "ed",
        lambda x, i: F.round(
            (x - F.element_at("mins", i + 1)) / F.element_at("rng", i + 1) * 255
        ).cast("int"),
    )
    deq = F.transform(
        "codes",
        lambda q, i: F.element_at("mins", i + 1)
        + q.cast("double") / 255 * F.element_at("rng", i + 1),
    )
    coded = with_e.join(F.broadcast(stats)).select(
        "vec_id", "ed", "mins", "rng", quant.alias("codes")
    )
    recon = coded.select("vec_id", "ed", "codes", deq.alias("dq"))
    max_err = F.array_max(
        F.zip_with("ed", "dq", lambda a, b: F.abs(a - b))
    )
    return recon.select(
        "vec_id",
        F.round(cosine(F.col("ed"), F.col("dq")), 6).alias("cos_fidelity"),
        F.round(max_err, 6).alias("max_abs_err"),
        F.array_min("codes").cast("long").alias("code_min"),
        F.array_max("codes").cast("long").alias("code_max"),
    )


def _lloyd(emb: DataFrame, k: int, iters: int, track_history: bool = True):
    """Lloyd's k-means over `emb(vec_id, e array<double>)`.

    Returns (assigned DataFrame with cluster + sq_dist, inertia
    history; empty history when track_history=False — each history
    point forces an extra Spark action, so callers that only need the
    final assignment skip it).
    The centroid table is the MODEL, k×dim doubles — it lives on the
    driver and is re-broadcast each iteration (exactly MLlib's
    treeAggregate shape); the DATA never leaves the cluster. Per
    iteration: one map-side assignment pass (argmin over k codegen'd
    L2 expressions, array_sort tiebreak on cluster index so ties are
    deterministic) and one partial-agg'd shuffle on (cluster, pos) to
    re-average, collecting only k×dim numbers. Init is seedless: the
    k lowest vec_ids, so reruns converge identically.
    """
    assert iters >= 1, "_lloyd needs at least one assignment pass"
    init = emb.orderBy("vec_id").limit(k).select("e").collect()
    centroids = [list(r["e"]) for r in init]
    if not centroids:  # empty corpus: empty assignment, no iterations
        empty = emb.select(
            "vec_id",
            "e",
            F.lit(0).alias("cluster"),
            F.lit(0.0).alias("sq_dist"),
        ).limit(0)
        return empty, []
    history = []
    assigned = None
    for _ in range(iters):
        dists = [
            F.aggregate(
                F.zip_with(
                    "e",
                    F.array(*[F.lit(float(v)) for v in c]),
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                _add,
            )
            for c in centroids
        ]
        best = F.array_sort(
            F.array(
                *[
                    F.struct(d.alias("d"), F.lit(i).alias("i"))
                    for i, d in enumerate(dists)
                ]
            )
        )[0]
        assigned = emb.select(
            "vec_id", "e", best["i"].alias("cluster"), best["d"].alias("sq_dist")
        )
        if track_history:
            history.append(assigned.agg(F.sum("sq_dist")).collect()[0][0])
        new_c = (
            assigned.select("cluster", F.posexplode("e"))
            .groupBy("cluster", "pos")
            # round the model to 9 dp: absorbs summation-order noise so
            # the refit centroids are engine- AND partitioning-exact
            # (the driver oracle re-derives them in SQL); 1e-9 is far
            # below any inter-centroid distance, so assignments are
            # unaffected
            .agg(F.round(F.avg("col"), 9).alias("m"))
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))), lambda s: s.m
                ).alias("c")
            )
            .collect()
        )
        got = {r["cluster"]: list(r["c"]) for r in new_c}
        centroids = [got.get(i, centroids[i]) for i in range(k)]
    return assigned, history


# Unrolled Lloyd iterations as CTEs (same trick as the pagerank
# oracle): aN assigns against c{N-1} with the fold-ordered L2 chain
# (bit-identical to Spark's aggregate(zip_with)), cN re-averages
# rounded to 9 dp (matching _lloyd's model rounding — this is what
# makes the refit centroids engine-exact), empty clusters keep their
# previous centroid via the LEFT JOIN coalesce, exactly like _lloyd.
def _duck_l2(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, len({a}) + 1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), (s, x) -> s + x)"
    )


def _kmeans_duck(k: int, iters: int) -> str:
    parts = [
        f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
      FROM embeddings),
    c0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, ed AS cent
      FROM e ORDER BY vec_id LIMIT {k})"""
    ]
    for it in range(1, iters + 1):
        parts.append(f""",
    a{it} AS MATERIALIZED (
      SELECT vec_id, ed, cluster, d AS sq_dist FROM (
        SELECT e.vec_id, e.ed, c.cluster,
               {_duck_l2("e.ed", "c.cent")} AS d,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY {_duck_l2("e.ed", "c.cent")} ASC, c.cluster ASC
               ) AS rn
        FROM e JOIN c{it - 1} c ON true) t WHERE rn = 1)""")
        if it < iters:
            parts.append(f""",
    n{it} AS (
      SELECT cluster, list(m ORDER BY pos) AS cent FROM (
        SELECT cluster, pos, round(avg(v), 9) AS m FROM (
          SELECT cluster, unnest(ed) AS v,
                 generate_subscripts(ed, 1) AS pos FROM a{it}) comp
        GROUP BY 1, 2) avgs GROUP BY 1),
    c{it} AS MATERIALIZED (
      SELECT p.cluster, coalesce(n.cent, p.cent) AS cent
      FROM c{it - 1} p LEFT JOIN n{it} n USING (cluster))""")
    parts.append(f"""
    SELECT CAST(cluster AS BIGINT) AS cluster, count(*) AS n,
           round(sum(sq_dist), 4) AS inertia
    FROM a{iters} GROUP BY 1
    """)
    return "".join(parts)


@op("vec_kmeans", oracle=_kmeans_duck(k=8, iters=3))
def vec_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (k=8, 3 Lloyd iterations) over the embedding
    corpus — the iterative-algorithm representative: per-cluster sizes
    and inertia after refinement. See _lloyd for the scale contract
    (data-parallel assignment, k×dim driver-side model, deterministic
    seedless init). tests/test_vector.py pins monotone non-increasing
    inertia and exact partition of the corpus.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double().alias("e")
    )
    assigned, _ = _lloyd(emb, k=8, iters=3, track_history=False)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("sq_dist"), 4).alias("inertia"),
        )
        .withColumn("cluster", F.col("cluster").cast("long"))
    )


_RECALL_TRUTH_DUCK = f"""
      SELECT probe_id, cand_id FROM (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY round({_duck_cos("p.ed", "c.ed")}, 6) DESC,
                          c.vec_id ASC) AS rn
        FROM e p JOIN e c ON p.vec_id < 20 AND c.vec_id >= 20
      ) t WHERE rn <= 3"""

_RECALL_DUCK = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
      FROM embeddings),
    truth AS MATERIALIZED ({_RECALL_TRUTH_DUCK}),
    tagged AS (
      SELECT 'lsh' AS method, probe_id, cand_id
      FROM ({_KNN_LSH_DUCK}) l
      UNION ALL
      SELECT 'ivf' AS method, probe_id, cand_id
      FROM ({_IVF_DUCK}) v
      UNION ALL
      SELECT 'lsh_mp' AS method, probe_id, cand_id
      FROM ({_KNN_LSH_MP_DUCK}) lm
      UNION ALL
      SELECT 'lsh_8p_single' AS method, probe_id, cand_id
      FROM ({_KNN_LSH_8P_SINGLE_DUCK}) ls),
    hits AS (
      SELECT method, count(*) AS hits
      FROM tagged JOIN truth USING (probe_id, cand_id) GROUP BY 1),
    m AS (SELECT 'lsh' AS method UNION ALL SELECT 'ivf'
          UNION ALL SELECT 'lsh_mp'
          UNION ALL SELECT 'lsh_8p_single'),
    tn AS (SELECT count(*) AS truth_n FROM truth)
    SELECT m.method, coalesce(h.hits, 0) AS hits, tn.truth_n,
           round(coalesce(h.hits, 0) / tn.truth_n, 4) AS recall
    FROM m LEFT JOIN hits h USING (method), tn
    """


@op("ann_recall_eval", oracle=_RECALL_DUCK)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the ANN variants (vec_knn_lsh, vec_knn_ivf and
    the multi-probe LSH) against
    the brute-force ground truth on the same probe/corpus split — the
    "measure, don't guess" evaluation every approximate index needs
    before it replaces the exact path at scale. Fully deterministic
    (both ANN variants are portable-hash-keyed since r5), so the whole
    evaluation — including the ground truth — is oracle-checkable.

    Scale: ground truth is the one brute-force pass you run on a
    SAMPLE of probes (here: the 20-probe panel); the ANN variants are
    the production path. At 100 TB recall evaluation stays this exact
    shape — fixed probe panel, broadcast probes, corpus never shuffles.

    Measured at sf0.01: IVF(nprobe=4) ≈ 0.65, default
    LSH(5 planes, multi-probe) = 0.40, LSH(8 planes, multi-probe)
    = 0.12, and the cautionary arm LSH(8 planes, single-probe) = 0.03
    — exactly the trade the op exists to surface: 8 sign bits over
    64-dim near-uniform embeddings slice the corpus into buckets so
    fine that true neighbors rarely agree on all 8 bits. The
    production fix — now the registered vec_knn_lsh default (r7) — is
    fewer planes plus multi-probe of the Hamming-1 neighborhood;
    SCALING.md records the numbers.
    """
    e = load_table(spark, sf_dir, "embeddings")
    # ONE scan + ONE 8-plane bucketing pass feeds the truth pass AND
    # all three LSH arms (r7): the 5-plane bucket is exactly the
    # low-5-bit mask of the 8-plane bucket (plane p contributes bit p),
    # so no arm recomputes the 8×64 sign-bit dot products.
    # localCheckpoint materializes the tiny (corpus × [ed, bucket])
    # table once; at 100 TB this is "build the index once, evaluate
    # many configs against it" — the production sweep shape.
    base = e.select(
        "vec_id",
        _emb_double().alias("ed"),
        _lsh_bucket_col(_emb_double(), PLANES).alias("b8"),
    ).localCheckpoint(eager=False)
    probes = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), F.col("ed").alias("pe")
    )
    cands = base.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), F.col("ed").alias("ce")
    )
    # r17 (guide §2.4/§5, VERDICT r16 #5): top-3 per group via a sorted-
    # list aggregate instead of a row_number window — the groupBy rides
    # the same Exchange the window needed but drops the full partition
    # sort (the window sorted EVERY candidate per group to keep 3).
    # Ordering vs the old `cos_sim DESC, cand_id ASC` window (and the
    # DuckDB oracle's, whose DESC also puts NULLs last):
    # struct(cos_sim IS NULL, -cos_sim, cand_id) sorted ascending.
    # The leading flag ranks a NULL cos_sim (a NULL embedding element)
    # last; without it the struct's NULL field would sort first.
    # Negation reverses the comparator for every non-NaN value
    # (incl. -0.0/0.0, which negation swaps). NaN is NOT equivalent:
    # -NaN is NaN, the largest double, so a NaN cos_sim (a zero-norm
    # embedding) ranks last here but first in the DESC window.
    def _t3(cond=None):
        s = F.struct(
            F.col("cos_sim").isNull().alias("null_sim"),
            (-F.col("cos_sim")).alias("nc"),
            F.col("cand_id").alias("cand_id"),
        )
        # collect_list drops NULLs, so when(cond, s) collects the
        # cond-subset in the SAME aggregate pass — no second scan of
        # the scored rows for the single-probe arm below
        return F.slice(
            F.sort_array(
                F.collect_list(s if cond is None else F.when(cond, s))
            ),
            1,
            3,
        )

    truth = (
        cands.join(F.broadcast(probes))
        .select(
            "probe_id",
            "cand_id",
            F.round(cosine(F.col("pe"), F.col("ce")), 6).alias("cos_sim"),
        )
        .groupBy("probe_id")
        .agg(_t3().alias("top"))
        .select("probe_id", F.explode("top.cand_id").alias("cand_id"))
    )
    # r16 (guide §2.4/§3): the three LSH arms fold into ONE broadcast
    # equi-join. Per arm the join key is (arm, bucket): the corpus side
    # carries both bucket widths map-side (the 5-plane bucket is the
    # low-5-bit mask of b8 — 2 rows per candidate instead of the old 3
    # join probes), the 20-probe panel fans out its multi-probe query
    # keys with an `own` flag, and the cautionary single-probe arm is
    # DERIVED from the 8-plane multiprobe scores (its candidate set is
    # exactly the own-bucket subset), so its join + cosine pass
    # disappears (since r17 both rank branches are ONE aggregate pass
    # over `scored` — see lsh_tops below). Arm outputs (candidate sets,
    # tie-breaks, method labels) are bit-identical to the former
    # per-arm _lsh_knn_from_bucketed calls.
    mask5 = F.lit((1 << N_PLANES_DEFAULT) - 1)
    cands_arms = base.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"),
        F.col("ed").alias("ce"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("lsh").alias("arm"),
                    F.col("b8").bitwiseAND(mask5).alias("cb"),
                ),
                F.struct(F.lit("lsh_mp").alias("arm"), F.col("b8").alias("cb")),
            )
        ).alias("ab"),
    ).select("cand_id", "ce", F.col("ab.arm").alias("arm"), F.col("ab.cb").alias("cb"))

    def _probe_fan(arm: str, bucket_col: F.Column, n_planes: int):
        return F.array(
            F.struct(
                F.lit(arm).alias("arm"),
                bucket_col.alias("qb"),
                F.lit(True).alias("own"),
            ),
            *[
                F.struct(
                    F.lit(arm).alias("arm"),
                    bucket_col.bitwiseXOR(F.lit(1 << p)).alias("qb"),
                    F.lit(False).alias("own"),
                )
                for p in range(n_planes)
            ],
        )

    probe_fan = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"),
        F.col("ed").alias("pe"),
        F.explode(
            F.concat(
                _probe_fan("lsh", F.col("b8").bitwiseAND(mask5), N_PLANES_DEFAULT),
                _probe_fan("lsh_mp", F.col("b8"), N_PLANES),
            )
        ).alias("q"),
    ).select(
        "probe_id",
        "pe",
        F.col("q.arm").alias("arm"),
        F.col("q.qb").alias("qb"),
        F.col("q.own").alias("own"),
    )
    scored_lsh = cands_arms.join(
        F.broadcast(probe_fan),
        (cands_arms["arm"] == probe_fan["arm"]) & (F.col("qb") == F.col("cb")),
    ).select(
        cands_arms["arm"].alias("arm"),
        "probe_id",
        "cand_id",
        "own",
        F.round(cosine(F.col("pe"), F.col("ce")), 6).alias("cos_sim"),
    )
    # r17: BOTH rank branches fold into ONE aggregate pass — the old
    # shape shuffled the identical `scored` subtree once (ReuseExchange)
    # but still paid two full window sorts over it; collecting the
    # all-rows top-3 and the own-bucket top-3 side by side keeps the
    # single Exchange and drops both sorts. `own & arm='lsh_mp'` rows
    # feed `top_own` via the NULL-dropping when() — exactly the old
    # single-probe filter, same groups, same tie-breaks.
    lsh_tops = scored_lsh.groupBy("arm", "probe_id").agg(
        _t3().alias("top"),
        _t3(F.col("own") & (F.col("arm") == "lsh_mp")).alias("top_own"),
    )
    mp_and_5 = lsh_tops.select(
        F.col("arm").alias("method"),
        "probe_id",
        F.explode("top.cand_id").alias("cand_id"),
    )
    single8 = lsh_tops.where(F.col("arm") == "lsh_mp").select(
        F.lit("lsh_8p_single").alias("method"),
        "probe_id",
        F.explode("top_own.cand_id").alias("cand_id"),
    )
    tagged = mp_and_5.unionByName(
        # r16: the IVF arm rides the same checkpointed base as the
        # LSH arms (it used to re-scan + re-parse embeddings — the
        # docstring's "one scan" claim now covers all four arms)
        _vec_knn_ivf_impl(
            spark, sf_dir, IVF_NPROBE, parsed=base.select("vec_id", "ed")
        ).select(F.lit("ivf").alias("method"), "probe_id", "cand_id")
    ).unionByName(single8)
    hits = tagged.join(truth, ["probe_id", "cand_id"]).groupBy("method").agg(
        F.count("*").alias("hits")
    )
    methods = spark.createDataFrame(
        [("lsh",), ("ivf",), ("lsh_mp",), ("lsh_8p_single",)], "method string"
    )
    truth_n = truth.agg(F.count("*").alias("truth_n"))
    return (
        methods.join(hits, "method", "left")
        .crossJoin(truth_n)  # 1-row aggregate, broadcast by planner
        .select(
            "method",
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
            "truth_n",
            # try_divide: an EMPTY probe panel (truth_n = 0) must yield
            # NULL recall, not an ANSI division-by-zero crash — matches
            # DuckDB, where 0/0 is NULL
            F.round(
                F.try_divide(
                    F.coalesce(F.col("hits"), F.lit(0)), F.col("truth_n")
                ),
                4,
            ).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Planted-cluster corpus (VERDICT r11 #6): the committed embeddings
# fixture is near-uniform — the WORST case for every ANN method, and
# the recall numbers measured there (0.40–0.65 @3) are honest but
# unrepresentative of real embedding spaces, which cluster. This
# deterministic generator plants K Gaussian-ish clusters through
# portable md5 arithmetic (identical doubles in Spark and DuckDB, so
# the whole evaluation stays oracle-checkable): component j of vector
# i is center(i % K, j) + sigma * noise(i, j), centers in [-1, 1],
# noise in [-sigma, sigma].
# ---------------------------------------------------------------------------
_CLUS_N, _CLUS_K, _CLUS_DIM, _CLUS_SIGMA = 1020, 8, 64, 0.15

_CLUSTERED_EMB_SQL = f"""SELECT i AS vec_id,
      list_transform(range(0, {_CLUS_DIM}), j ->
        ((CAST(('0x' || substr(md5('c' || CAST(i % {_CLUS_K} AS VARCHAR)
                                    || '_' || CAST(j AS VARCHAR)), 1, 6))
               AS BIGINT) % 2001) / 1000.0 - 1.0)
        + {_CLUS_SIGMA} *
        ((CAST(('0x' || substr(md5('n' || CAST(i AS VARCHAR)
                                    || '_' || CAST(j AS VARCHAR)), 1, 6))
               AS BIGINT) % 2001) / 1000.0 - 1.0)
      ) AS embedding
    FROM range(0, {_CLUS_N}) t(i)"""


def _clustered_embeddings(spark: SparkSession) -> DataFrame:
    """Spark twin of _CLUSTERED_EMB_SQL — bit-identical doubles (md5
    hex → integer → the same divide/shift arithmetic, and both
    engines evaluate center + sigma*noise with one multiply and one
    add), so unrounded argmax cell assignment is oracle-safe."""

    def _h6(s):
        return F.conv(F.substring(F.md5(s), 1, 6), 16, 10).cast("long")

    def _comp(vid, j):
        c = _h6(
            F.concat(
                F.lit("c"),
                (vid % _CLUS_K).cast("string"),
                F.lit("_"),
                j.cast("string"),
            )
        )
        nz = _h6(
            F.concat(
                F.lit("n"), vid.cast("string"), F.lit("_"), j.cast("string")
            )
        )
        return ((c % 2001) / F.lit(1000.0) - 1.0) + F.lit(_CLUS_SIGMA) * (
            (nz % 2001) / F.lit(1000.0) - 1.0
        )

    return spark.range(_CLUS_N).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(_CLUS_DIM - 1)),
            lambda j: _comp(F.col("id"), j),
        ).alias("embedding"),
    )


# the clustered-regime oracle is the SAME evaluation SQL with the
# embeddings table swapped for the generator subquery — every arm
# (truth, both LSH configs, IVF) re-reads the identical synthetic
# corpus, so recall numbers are exact cross-engine
_RECALL_CLUSTERED_DUCK = _RECALL_DUCK.replace(
    "FROM embeddings", f"FROM ({_CLUSTERED_EMB_SQL}) _clus"
)


@op("ann_recall_clustered", oracle=_RECALL_CLUSTERED_DUCK)
def ann_recall_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ann_recall_eval's exact evaluation harness re-run on the
    planted-cluster corpus (8 clusters, sigma=0.15, 64-dim): the
    OTHER recall regime. The committed fixture is near-uniform — the
    hardest possible input for sign-bit LSH and coarse IVF cells —
    so its recall numbers (SCALING.md r6/r10 tables) understate what
    users see on real, clusterable embedding spaces. This op puts the
    favorable regime on the same oracle-checked record: with planted
    structure, probes' true neighbors are their cluster-mates, cells
    align with clusters, and recall@3 jumps accordingly (SCALING.md
    r12 table records both regimes side by side).

    Scale: identical shape to ann_recall_eval — one synthetic scan,
    one 8-plane bucketing shared by all LSH arms, broadcast probe
    panel, cell/bucket equi-joins only. The generator itself is one
    codegen'd map over range(N) (no data source at all), the same
    portable-md5 arithmetic the dedup family uses."""
    base = _clustered_embeddings(spark).select(
        "vec_id",
        _emb_double().alias("ed"),
        _lsh_bucket_col(_emb_double(), PLANES).alias("b8"),
    ).localCheckpoint(eager=False)
    probes = base.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), F.col("ed").alias("pe")
    )
    cands = base.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), F.col("ed").alias("ce")
    )
    w = W.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    truth = (
        cands.join(F.broadcast(probes))
        .select(
            "probe_id",
            "cand_id",
            F.round(cosine(F.col("pe"), F.col("ce")), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("probe_id", "cand_id")
    )
    b5 = base.select(
        "vec_id",
        "ed",
        F.col("b8").bitwiseAND(F.lit((1 << N_PLANES_DEFAULT) - 1)).alias("bucket"),
    )
    b8 = base.select("vec_id", "ed", F.col("b8").alias("bucket"))
    ivf = _vec_knn_ivf_impl(
        spark, sf_dir, IVF_NPROBE, e=_clustered_embeddings(spark)
    )
    tagged = (
        _lsh_knn_from_bucketed(b5, N_PLANES_DEFAULT, multiprobe=True)
        .select(F.lit("lsh").alias("method"), "probe_id", "cand_id")
        .unionByName(
            ivf.select(F.lit("ivf").alias("method"), "probe_id", "cand_id")
        )
        .unionByName(
            _lsh_knn_from_bucketed(b8, N_PLANES, multiprobe=True).select(
                F.lit("lsh_mp").alias("method"), "probe_id", "cand_id"
            )
        )
        .unionByName(
            _lsh_knn_from_bucketed(b8, N_PLANES, multiprobe=False).select(
                F.lit("lsh_8p_single").alias("method"), "probe_id", "cand_id"
            )
        )
    )
    hits = tagged.join(truth, ["probe_id", "cand_id"]).groupBy("method").agg(
        F.count("*").alias("hits")
    )
    methods = spark.createDataFrame(
        [("lsh",), ("ivf",), ("lsh_mp",), ("lsh_8p_single",)], "method string"
    )
    truth_n = truth.agg(F.count("*").alias("truth_n"))
    return (
        methods.join(hits, "method", "left")
        .crossJoin(truth_n)  # 1-row aggregate, broadcast by planner
        .select(
            "method",
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
            "truth_n",
            F.round(
                F.try_divide(
                    F.coalesce(F.col("hits"), F.lit(0)), F.col("truth_n")
                ),
                4,
            ).alias("recall"),
        )
    )


_SWEEP_NPROBES = (1, 2, 4, 8)


def _nprobe_sweep_duck() -> str:
    arms = "\n      UNION ALL\n".join(
        f"""      SELECT {p} AS nprobe, probe_id, cand_id
      FROM ({_ivf_duck(p)}) v{p}"""
        for p in _SWEEP_NPROBES
    )
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
      FROM embeddings),
    truth AS MATERIALIZED ({_RECALL_TRUTH_DUCK}),
    tagged AS (
{arms}),
    hits AS (
      SELECT nprobe, count(*) AS hits
      FROM tagged JOIN truth USING (probe_id, cand_id) GROUP BY 1),
    m AS (SELECT unnest([{', '.join(str(p) for p in _SWEEP_NPROBES)}])
            AS nprobe),
    tn AS (SELECT count(*) AS truth_n FROM truth)
    SELECT CAST(m.nprobe AS INTEGER) AS nprobe,
           coalesce(h.hits, 0) AS hits, tn.truth_n,
           round(coalesce(h.hits, 0) / tn.truth_n, 4) AS recall
    FROM m LEFT JOIN hits h USING (nprobe), tn
    """


@op("ann_nprobe_sweep", oracle=_nprobe_sweep_duck())
def ann_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning curve: recall@3 at nprobe ∈ {1, 2, 4, 8} against
    the brute-force ground truth — the parameter sweep that picks the
    recall/latency point BEFORE an approximate index replaces the
    exact path (ann_recall_eval measures the chosen configs; this op
    shows the whole knob).

    Scale: the corpus-side cell assignment is computed per arm here
    for oracle symmetry, but the production sweep shares ONE index —
    only the probe-side fan-out (nprobe cells per probe) changes, so
    sweeping is probe-side-cheap exactly like multi-probe LSH. Truth
    is one brute-force pass on the fixed 20-probe panel."""
    e = load_table(spark, sf_dir, "embeddings")
    with_e = e.select("vec_id", _emb_double().alias("ed"))
    probes = with_e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), F.col("ed").alias("pe")
    )
    cands = with_e.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), F.col("ed").alias("ce")
    )
    w = W.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    truth = (
        cands.join(F.broadcast(probes))
        .select(
            "probe_id",
            "cand_id",
            F.round(cosine(F.col("pe"), F.col("ce")), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("probe_id", "cand_id")
        .localCheckpoint()
    )
    tagged = None
    for p in _SWEEP_NPROBES:
        arm = ivf_topk(spark, sf_dir, p).select(
            F.lit(p).alias("nprobe"), "probe_id", "cand_id"
        )
        tagged = arm if tagged is None else tagged.unionByName(arm)
    hits = tagged.join(truth, ["probe_id", "cand_id"]).groupBy("nprobe").agg(
        F.count("*").alias("hits")
    )
    arms = spark.createDataFrame(
        [(p,) for p in _SWEEP_NPROBES], "nprobe int"
    )
    truth_n = truth.agg(F.count("*").alias("truth_n"))
    return (
        arms.join(hits, "nprobe", "left")
        .crossJoin(F.broadcast(truth_n))
        .select(
            "nprobe",
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
            "truth_n",
            F.round(
                F.try_divide(
                    F.coalesce(F.col("hits"), F.lit(0)), F.col("truth_n")
                ),
                4,
            ).alias("recall"),
        )
    )


@op(
    "vec_dim_stats",
    # mean/std are computed from avg(v) and avg(v*v) with the SAME
    # closed formula on both engines (no engine-native stddev, whose
    # accumulation algorithms differ) and rounded at 6 per the
    # vec_centroid precedent; min/max are exact; zero_frac and n are
    # integer-derived
    oracle="""
    WITH comp AS (
      SELECT generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings)
    SELECT CAST(pos AS BIGINT) AS pos,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(v), 6) AS mean,
           round(sqrt(greatest(avg(v * v) - avg(v) * avg(v), 0.0)), 6)
             AS std,
           round(min(v), 6) AS vmin,
           round(max(v), 6) AS vmax,
           count(CASE WHEN v = 0.0 THEN 1 END) * 1.0 / count(*)
             AS zero_frac
    FROM comp GROUP BY 1
    """,
)
def vec_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health profile: per-dimension mean / std / min / max /
    zero fraction across the corpus — the pre-index sanity check every
    vector pipeline needs (a dead dimension shows as std ≈ 0, a scale
    drift between embedding-model versions shows as per-dim mean/std
    shift, an accidental ReLU output shows as zero_frac spikes) BEFORE
    quantization (vec_quantize_int8 assumes sane per-dim ranges) or
    LSH bucketing (hyperplanes assume roughly centered dims).

    Scale: posexplode is map-side; the groupBy key domain is |dims|
    (64), so partial aggregation shrinks the shuffle to
    |dims| × partitions rows no matter the corpus size — the same
    elementwise-agg shape as vec_centroid."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(F.posexplode(_emb_double())).select(
        (F.col("pos") + 1).cast("long").alias("pos"), F.col("col").alias("v")
    )
    mean = F.avg("v")
    var = F.greatest(F.avg(F.col("v") * F.col("v")) - mean * mean, F.lit(0.0))
    return comp.groupBy("pos").agg(
        F.count("*").cast("long").alias("n"),
        F.round(mean, 6).alias("mean"),
        F.round(F.sqrt(var), 6).alias("std"),
        F.round(F.min("v"), 6).alias("vmin"),
        F.round(F.max("v"), 6).alias("vmax"),
        (
            F.count(F.when(F.col("v") == 0.0, 1)) * 1.0 / F.count("*")
        ).alias("zero_frac"),
    )


@op(
    "vec_contamination_probe",
    # both engines compute the dot/norms with in-index-order
    # accumulation (Spark aggregate/zip_with HOFs, DuckDB
    # list_cosine_similarity's sequential loop) so the doubles are
    # bit-identical; ranking happens on the ROUNDED cosine with a
    # probe_id tiebreak so the winner is deterministic cross-engine
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings),
    probes AS (SELECT vec_id AS probe_id, emb AS pemb FROM e
               WHERE vec_id < 20),
    corpus AS (SELECT vec_id, emb FROM e WHERE vec_id >= 20),
    cos AS (
      SELECT c.vec_id, p.probe_id,
             round(list_cosine_similarity(c.emb, p.pemb), 6) AS cos_sim
      FROM corpus c CROSS JOIN probes p),
    best AS (
      SELECT vec_id, probe_id, cos_sim,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, probe_id ASC)
               AS rn
      FROM cos)
    SELECT vec_id, probe_id AS best_probe, cos_sim AS best_cos,
           (cos_sim >= 0.35) AS contaminated
    FROM best WHERE rn = 1
    """,
)
def vec_contamination_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: flag corpus vectors
    whose cosine to ANY held-out benchmark probe exceeds a threshold —
    the semantic complement of text_decontaminate's n-gram overlap
    (catches paraphrased benchmark rows that share no 8-gram). Probe
    set = vec_id < 20 (stands in for an embedded eval set); every
    corpus vector reports its nearest probe, the similarity, and the
    contamination verdict at τ = 0.35.

    Scale: the probe set is SMALL BY DEFINITION (an eval benchmark —
    thousands at most), so it broadcasts and the corpus never
    shuffles for the comparison: |corpus| × |probes| cosine evals are
    pure map-side HOF math, and the only exchange is the per-vector
    argmax (partitionBy vec_id — data-proportional key). The same
    plan at 100 TB streams the corpus once; contrast with
    dedup_embedding_cosine, which needs LSH bucketing because BOTH
    sides are corpus-sized."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double().alias("emb")
    )
    probes = e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), F.col("emb").alias("pemb")
    )
    corpus = e.where(F.col("vec_id") >= 20)
    cos = corpus.crossJoin(F.broadcast(probes)).select(
        "vec_id",
        "probe_id",
        F.round(cosine(F.col("emb"), F.col("pemb")), 6).alias("cos_sim"),
    )
    w = W.partitionBy("vec_id").orderBy(
        F.col("cos_sim").desc(), F.col("probe_id").asc()
    )
    return (
        cos.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("probe_id").alias("best_probe"),
            F.col("cos_sim").alias("best_cos"),
            (F.col("cos_sim") >= 0.35).alias("contaminated"),
        )
    )


# --------------------------------------------------------------------------
# Product quantization — the IVF-PQ memory shape at 100 TB
# --------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_SUB = 8  # dims per subspace (PQ_M * PQ_SUB = embedding dim 64)
PQ_K = 16  # codes per subspace (4 bits)
PQ_ITERS = 3  # Lloyd refinements per codebook


def _pq_subspace_ctes(
    m: int, sub: int, k: int, iters: int, src: str, tag: str = ""
) -> str:
    """Per-subspace Lloyd-codebook CTE chains (the body of
    _pq_cte_prefix): s{tag}{j}* training CTEs ending in r{tag}{j}
    (vec_id, code_j, dq_j). ``tag`` namespaces the CTE names so TWO
    codebook sizes can coexist in one oracle (the 4-bit vs 8-bit
    sweep, r12 VERDICT #5)."""
    parts = []
    for j in range(m):
        off = j * sub
        s, r = f"s{tag}{j}", f"r{tag}{j}"
        parts.append(f""",
    {s} AS MATERIALIZED (
      SELECT vec_id, list_transform(range(1, {sub} + 1), i -> ed[i + {off}])
               AS sub
      FROM {src}),
    {s}_c0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cluster, sub AS cent
      FROM {s} ORDER BY vec_id LIMIT {k})""")
        for it in range(1, iters + 1):
            parts.append(f""",
    {s}_a{it} AS MATERIALIZED (
      SELECT vec_id, sub, cluster, d AS sq_dist FROM (
        SELECT s.vec_id, s.sub, c.cluster,
               {_duck_l2("s.sub", "c.cent")} AS d,
               row_number() OVER (
                 PARTITION BY s.vec_id
                 ORDER BY {_duck_l2("s.sub", "c.cent")} ASC, c.cluster ASC
               ) AS rn
        FROM {s} s JOIN {s}_c{it - 1} c ON true) t WHERE rn = 1)""")
            if it < iters:
                parts.append(f""",
    {s}_n{it} AS (
      SELECT cluster, list(mm ORDER BY pos) AS cent FROM (
        SELECT cluster, pos, round(avg(v), 9) AS mm FROM (
          SELECT cluster, unnest(sub) AS v,
                 generate_subscripts(sub, 1) AS pos FROM {s}_a{it}) comp
        GROUP BY 1, 2) avgs GROUP BY 1),
    {s}_c{it} AS MATERIALIZED (
      SELECT p.cluster, coalesce(n.cent, p.cent) AS cent
      FROM {s}_c{it - 1} p LEFT JOIN {s}_n{it} n USING (cluster))""")
        # final assignment {s}_a{iters} ran against model {s}_c{iters-1}
        parts.append(f""",
    {r} AS (
      SELECT a.vec_id, a.cluster AS code_{j}, c.cent AS dq_{j}
      FROM {s}_a{iters} a JOIN {s}_c{iters - 1} c USING (cluster))""")
    return "".join(parts)


def _pq_cte_prefix(
    m: int, sub: int, k: int, iters: int, src: str = "e", head_extra: str = ""
) -> str:
    """Shared CTE prefix for the PQ oracles: per subspace, the same
    engine-exact Lloyd chain as _kmeans_duck (fold-ordered L2, 9-dp
    model rounding, empty-cluster carry-over), ending in r{j}
    (vec_id, code_j, dq_j) reconstruction CTEs. ``src`` names the CTE
    providing (vec_id, ed) — 'e' for raw embeddings, a residual CTE
    for the IVF-PQ composite."""
    head = (
        """
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
      FROM embeddings)"""
        + head_extra
    )
    return head + _pq_subspace_ctes(m, sub, k, iters, src)


def _pq_duck(m: int, sub: int, k: int, iters: int) -> str:
    """vec_quantize_pq oracle: codes + reconstruction fidelity."""
    joins = " ".join(f"JOIN r{j} USING (vec_id)" for j in range(m))
    dq = "flatten([" + ", ".join(f"dq_{j}" for j in range(m)) + "])"
    codes = ", ".join(f"CAST(code_{j} AS BIGINT) AS code_{j}" for j in range(m))
    return (
        _pq_cte_prefix(m, sub, k, iters)
        + f"""
    SELECT e.vec_id, {codes},
           round({_duck_cos("e.ed", dq)}, 6) AS cos_fidelity
    FROM e {joins}
    """
    )


def _pq_adc_duck(m: int, sub: int, k: int, iters: int, n_probe: int, topk: int) -> str:
    """vec_knn_pq_adc oracle: asymmetric-distance top-k over the same
    PQ chain — probes full-precision, candidates reconstructed from
    codes; sum-of-subspace L2 == fold L2(pe, dq), ranked rounded with
    cand_id tiebreak."""
    joins = " ".join(f"JOIN r{j} USING (vec_id)" for j in range(m))
    dq = "flatten([" + ", ".join(f"dq_{j}" for j in range(m)) + "])"
    return (
        _pq_cte_prefix(m, sub, k, iters)
        + f""",
    coded AS MATERIALIZED (
      SELECT e.vec_id AS cand_id, {dq} AS dq
      FROM e {joins} WHERE e.vec_id >= {n_probe}),
    probes AS (
      SELECT vec_id AS probe_id, ed AS pe FROM e WHERE vec_id < {n_probe})
    SELECT probe_id, cand_id, adc_dist, CAST(rn AS BIGINT) AS rn FROM (
      SELECT p.probe_id, c.cand_id,
             round({_duck_l2("p.pe", "c.dq")}, 6) AS adc_dist,
             row_number() OVER (
               PARTITION BY p.probe_id
               ORDER BY round({_duck_l2("p.pe", "c.dq")}, 6) ASC,
                        c.cand_id ASC) AS rn
      FROM probes p JOIN coded c ON true) t WHERE rn <= {topk}
    """
    )


def _pq_matrix(model):
    """Codebook as a literal array<array<double>> column. NOTE:
    F.lit(nested_list) expands to the same array(*[lit(v)...]) tree as
    the explicit composition in PySpark classic (verified live, r13
    third review) — this form is just shorter; the large-k wall lived
    in the higher-order-function interpreter and was fixed by
    _pq_train_local/_pq_encode_arrow, not here. Values are float64
    either way — bit-identical codes."""
    return F.lit([[float(v) for v in c] for c in model])


def _pq_code(sub_col, matrix):
    """Nearest-centroid code via ONE transform lambda over the literal
    codebook matrix (fold-ordered L2 per centroid, first-minimum
    tiebreak == lowest cluster index — identical values and ties to the
    16-way unrolled argmin, but a ~16× smaller expression tree, which
    is what dominated wall at toy scale: whole-stage codegen COMPILE,
    not evaluation)."""
    dists = F.transform(
        matrix,
        lambda c: F.aggregate(
            F.zip_with(sub_col, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            _add,
        ),
    )
    return F.array_position(dists, F.array_min(dists)) - 1


def _pq_train(base: DataFrame, m: int, sub: int, k: int, iters: int):
    """Joint Lloyd training of all m subspace codebooks — mathematically
    identical to m independent _lloyd runs (same lowest-vec_id init,
    same 9-dp model rounding, same empty-cluster carry-over; the
    oracle's per-subspace CTE chains pin this), but ONE Spark job per
    refinement instead of m: the per-subspace argmin assignments are
    all codegen'd into a single map pass, the (subspace, cluster, pos)
    re-average is one partial-agg'd shuffle collecting m*k*sub doubles.
    iters*2+1 small jobs total, vs m*(iters*2) the sequential way."""
    init = base.orderBy("vec_id").limit(k).select("ed").collect()
    if not init:
        return [[] for _ in range(m)]
    models = [
        [list(r["ed"])[j * sub : (j + 1) * sub] for r in init]
        for j in range(m)
    ]
    for it in range(iters - 1):  # final assignment happens at encode
        assign_cols = []
        for j, model in enumerate(models):
            sj = F.slice("ed", j * sub + 1, sub)
            code = _pq_code(sj, _pq_matrix(model))
            assign_cols.append(
                F.struct(
                    F.lit(j).alias("j"),
                    code.alias("cluster"),
                    sj.alias("sv"),
                ).alias(f"s{j}")
            )
        exploded = (
            base.select(F.explode(F.array(*assign_cols)).alias("a"))
            .select("a.j", "a.cluster", F.posexplode("a.sv"))
        )
        new_c = (
            exploded.groupBy("j", "cluster", "pos")
            .agg(F.round(F.avg("col"), 9).alias("mm"))
            .groupBy("j", "cluster")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "mm"))),
                    lambda s: s.mm,
                ).alias("c")
            )
            .collect()
        )
        got = {(r["j"], r["cluster"]): list(r["c"]) for r in new_c}
        models = [
            [got.get((j, i), models[j][i]) for i in range(len(models[j]))]
            for j in range(m)
        ]
    return models


@op("vec_quantize_pq", oracle=_pq_duck(PQ_M, PQ_SUB, PQ_K, PQ_ITERS))
def vec_quantize_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the memory shape that makes 100 TB ANN
    feasible (IVF-PQ): split each 64-dim vector into 8 subspaces of 8
    dims, train a 16-centroid Lloyd codebook per subspace (same
    engine-exact _lloyd as vec_kmeans: seedless lowest-vec_id init,
    9-dp model rounding), encode each subspace to its nearest-centroid
    4-bit code, reconstruct from the codebooks, and emit per-vector
    codes + cosine(original, reconstruction). 64 float32 (256 B) →
    8×4-bit codes (4 B) + shared codebooks: 64× compression, vs
    vec_quantize_int8's 4×, with fidelity as a measured column instead
    of a hope (the repo's calibration discipline).

    Scale contract: TRAINING is the calibration job — m tiny
    driver-side models (16×8 doubles each) fit on a sample exactly
    like vec_kmeans; ENCODING is the production path — one map pass
    with the codebooks inlined as literals (argmin over 16 codegen'd
    fold-L2 expressions per subspace; no join, no shuffle, no Python),
    so a 100 TB corpus encodes at scan speed. The oracle re-derives
    the full chain (codebooks, codes, reconstruction, fidelity) in
    unrolled DuckDB CTEs — codes AND fidelity are hash-checked, not
    bound-asserted. Measured at sf0.01: mean fidelity 0.652
    (min 0.528, max 0.922), all 16 codes used in every subspace —
    NEAR-UNIFORM random embeddings are PQ's worst case (no subspace
    correlation to exploit; real text/image embeddings sit far
    higher), and that floor is exactly what this calibration op
    exists to measure before anyone trusts ADC distances at 64×.
    tests/test_vector.py pins mean fidelity, full code-range use, and
    rerun determinism."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double().alias("ed")
    )
    base = emb.localCheckpoint(eager=False)
    models = _pq_train(base, PQ_M, PQ_SUB, PQ_K, PQ_ITERS)
    if not any(models):  # empty corpus: no codebooks, no rows
        return base.select(
            "vec_id",
            *[F.lit(0).cast("long").alias(f"code_{j}") for j in range(PQ_M)],
            F.lit(0.0).alias("cos_fidelity"),
        ).limit(0)

    cols = []
    recon = []
    for j, model in enumerate(models):
        sub = F.slice("ed", j * PQ_SUB + 1, PQ_SUB)
        matrix = _pq_matrix(model)
        cols.append(_pq_code(sub, matrix).cast("long").alias(f"code_{j}"))
        recon.append(F.element_at(matrix, F.col(f"code_{j}").cast("int") + 1))
    coded = base.select("vec_id", "ed", *cols)
    dq = F.concat(*recon)
    return coded.select(
        "vec_id",
        *[f"code_{j}" for j in range(PQ_M)],
        F.round(cosine(F.col("ed"), dq), 6).alias("cos_fidelity"),
    )


PQ_N_PROBE = 5  # same probe split as vec_knn_topk — recall is comparable
PQ_TOPK = 5


@op(
    "vec_knn_pq_adc",
    oracle=_pq_adc_duck(PQ_M, PQ_SUB, PQ_K, PQ_ITERS, PQ_N_PROBE, PQ_TOPK),
)
def vec_knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance kNN over the PQ codes — how a 100 TB corpus
    is actually searched once vec_quantize_pq shrank it 64×: probes
    stay full-precision, candidates exist ONLY as 4-bit codes, and the
    distance is Σ_j ||probe_j − codebook_j[code_j]||² — algebraically
    the fold-L2 between the probe and the reconstruction, so the scan
    reads 4 B/vector instead of 256 B (in production the per-probe
    subspace→centroid distances become a 16-entry LUT per subspace;
    the algebra here is identical, the LUT is just memoization).

    Same probe/corpus split as vec_knn_topk (vec_id < 5), so recall of
    ADC vs the exact baseline is directly measurable —
    tests/test_vector.py pins it and SCALING.md records it: the
    compression/recall trade as numbers, completing the calibration
    triangle (vec_quantize_pq = fidelity, this op = retrieval impact,
    ann_recall_eval = the bucketing side). Fully hash-checked: the
    oracle re-derives codebooks, codes, reconstructions AND the ranked
    ADC lists in unrolled DuckDB CTEs."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _emb_double().alias("ed")
    )
    base = emb.localCheckpoint(eager=False)
    models = _pq_train(base, PQ_M, PQ_SUB, PQ_K, PQ_ITERS)
    if not any(models):
        return base.select(
            F.col("vec_id").alias("probe_id"),
            F.col("vec_id").alias("cand_id"),
            F.lit(0.0).alias("adc_dist"),
            F.lit(0).cast("long").alias("rn"),
        ).limit(0)
    cols, recon = [], []
    for j, model in enumerate(models):
        sub = F.slice("ed", j * PQ_SUB + 1, PQ_SUB)
        matrix = _pq_matrix(model)
        cols.append(_pq_code(sub, matrix).cast("int").alias(f"code_{j}"))
        recon.append(F.element_at(matrix, F.col(f"code_{j}") + 1))
    cands = (
        base.where(F.col("vec_id") >= PQ_N_PROBE)
        .select(F.col("vec_id").alias("cand_id"), "ed", *cols)
        .select("cand_id", F.concat(*recon).alias("dq"))
    )
    probes = base.where(F.col("vec_id") < PQ_N_PROBE).select(
        F.col("vec_id").alias("probe_id"), F.col("ed").alias("pe")
    )
    l2 = F.aggregate(
        F.zip_with("pe", "dq", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        _add,
    )
    scored = cands.join(F.broadcast(probes)).select(
        "probe_id", "cand_id", F.round(l2, 6).alias("adc_dist")
    )
    w = W.partitionBy("probe_id").orderBy(
        F.col("adc_dist").asc(), F.col("cand_id").asc()
    )
    return scored.withColumn("rn", F.row_number().over(w).cast("long")).where(
        F.col("rn") <= PQ_TOPK
    )


IVFPQ_NPROBE = 4
IVFPQ_SHORTLIST = 32  # ADC shortlist size fed to the exact re-rank


def _ivfpq_head_ctes(dim: int) -> str:
    """The eh/cents/cand_res CTE block shared by all three IVF-PQ
    oracles (vec_knn_ivf_pq, ann_ivfpq_sweep, ann_pq_bits_clustered —
    r13 review find: three hand-copies silently diverging is how a
    cell-assignment tiebreak change would corrupt one oracle). Expects
    an upstream e(vec_id, ed) CTE: hash-ranked coarse cells, one cell
    per candidate (unrounded-cosine argmax, cent_id tiebreak), and the
    candidate residual vectors."""
    return f""",
    eh AS (
      SELECT vec_id, ed,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS hk
      FROM e),
    cents AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY hk, vec_id) AS cent_id, ed AS cent
      FROM eh ORDER BY hk, vec_id LIMIT {IVF_K}),
    cand_res AS MATERIALIZED (
      SELECT vec_id, cell,
             list_transform(range(1, {dim} + 1), i -> ed[i] - cent[i]) AS ed
      FROM (
        SELECT e2.vec_id, e2.ed, c.cent_id AS cell, c.cent,
               row_number() OVER (
                 PARTITION BY e2.vec_id
                 ORDER BY {_duck_cos("e2.ed", "c.cent")} DESC, c.cent_id ASC
               ) AS rnc
        FROM eh e2 JOIN cents c ON e2.vec_id >= 20) t
      WHERE rnc = 1)"""


def _probe_cells_cte(dim: int, nprobe, with_rnc: bool = False) -> str:
    """The probe-residual CTE shared by all four IVF-PQ oracles
    (r14 third review: the fourth hand-copy landed with the OPQ op —
    same drift class _ivfpq_head_ctes closed for the candidate side).
    Probe panel = vec_id < 20; one row per (probe, probed cell) up to
    ``nprobe`` by unrounded-cosine rank, rp = the probe's residual in
    that cell. ``with_rnc`` keeps the cell rank in the output (the
    nprobe sweep filters arms on it)."""
    rnc_col = " rnc," if with_rnc else ""
    return f""",
    probe_cells AS MATERIALIZED (
      SELECT probe_id, cell,{rnc_col}
             list_transform(range(1, {dim} + 1), i -> pe[i] - cent[i]) AS rp
      FROM (
        SELECT e2.vec_id AS probe_id, e2.ed AS pe, c.cent_id AS cell, c.cent,
               row_number() OVER (
                 PARTITION BY e2.vec_id
                 ORDER BY {_duck_cos("e2.ed", "c.cent")} DESC, c.cent_id ASC
               ) AS rnc
        FROM eh e2 JOIN cents c ON e2.vec_id < 20) t
      WHERE rnc <= {nprobe})"""


def _ivf_pq_duck(m: int, sub: int, k: int, iters: int, nprobe: int) -> str:
    """vec_knn_ivf_pq oracle: IVF coarse cells (md5-ranked centroids,
    unrounded-cosine argmax — the _ivf_duck contract) + residual PQ
    (the engine-exact per-subspace Lloyd chains over cand_res) +
    nprobe ADC search, all re-derived in one CTE pyramid."""
    dim = m * sub
    head_extra = _ivfpq_head_ctes(dim)
    joins = " ".join(f"JOIN r{j} USING (vec_id)" for j in range(m))
    dq = "flatten([" + ", ".join(f"dq_{j}" for j in range(m)) + "])"
    return (
        _pq_cte_prefix(m, sub, k, iters, src="cand_res", head_extra=head_extra)
        + f""",
    coded AS MATERIALIZED (
      SELECT cand_res.vec_id AS cand_id, cand_res.cell, {dq} AS dq
      FROM cand_res {joins})"""
        + _probe_cells_cte(dim, nprobe)
        + f""",
    shortlist AS MATERIALIZED (
      SELECT probe_id, cand_id, adc_dist FROM (
        SELECT p.probe_id, c.cand_id,
               round({_duck_l2("p.rp", "c.dq")}, 6) AS adc_dist,
               row_number() OVER (
                 PARTITION BY p.probe_id
                 ORDER BY round({_duck_l2("p.rp", "c.dq")}, 6) ASC,
                          c.cand_id ASC) AS rn
        FROM probe_cells p JOIN coded c USING (cell)) t
      WHERE rn <= {IVFPQ_SHORTLIST})
    SELECT probe_id, cand_id, adc_dist, cos_sim, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT s.probe_id, s.cand_id, s.adc_dist,
             round({_duck_cos("pv.ed", "cv.ed")}, 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY s.probe_id
               ORDER BY round({_duck_cos("pv.ed", "cv.ed")}, 6) DESC,
                        s.cand_id ASC) AS rn
      FROM shortlist s
      JOIN eh pv ON pv.vec_id = s.probe_id
      JOIN eh cv ON cv.vec_id = s.cand_id) t WHERE rn <= 3
    """
    )


@op(
    "vec_knn_ivf_pq",
    oracle=_ivf_pq_duck(PQ_M, PQ_SUB, PQ_K, PQ_ITERS, IVFPQ_NPROBE),
)
def vec_knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production 100 TB ANN composite (the FAISS
    default): coarse IVF cells prune the corpus to nprobe cells per
    probe, and within a cell candidates exist only as 4-bit PQ codes
    of their RESIDUAL (vector − cell centroid) — residuals concentrate
    near zero, so the same codebook budget quantizes them tighter than
    raw vectors. Search = per probed cell, the probe's residual
    against each candidate's reconstructed residual (fold-L2 ADC),
    top-3 per probe with the usual round-6 + cand_id tiebreak.

    Composes the repo's two calibrated pieces: vec_knn_ivf's
    deterministic md5-ranked centroids + unrounded-cosine max_by cell
    assignment (one row per candidate into the shuffle), and
    vec_quantize_pq's joint-Lloyd codebooks / one-lambda argmin encode
    (gotcha #23) — here trained on residuals. Scale contract: cells +
    codebooks are the tiny driver-side model; candidate encode is one
    map pass; the probe side fans out ×nprobe only. Fully
    hash-checked: the oracle re-derives cells, residuals, codebooks,
    codes and the ranked ADC lists. Recall@3 vs the brute-force truth
    is pinned in tests/test_vector.py beside vec_knn_ivf's."""
    with_e, scored = _ivfpq_adc_scored(spark, sf_dir, IVFPQ_NPROBE)
    if scored is None:
        return with_e.select(
            F.col("vec_id").alias("probe_id"),
            F.col("vec_id").alias("cand_id"),
            F.lit(0.0).alias("adc_dist"),
            F.lit(0.0).alias("cos_sim"),
            F.lit(0).cast("long").alias("rn"),
        ).limit(0)
    wa = W.partitionBy("probe_id").orderBy(
        F.col("adc_dist").asc(), F.col("cand_id").asc()
    )
    shortlist = (
        scored.drop("rnc")
        .withColumn("rn", F.row_number().over(wa))
        .where(F.col("rn") <= IVFPQ_SHORTLIST)
        .drop("rn")
    )
    # REFINE: exact cosine on the shortlist only — the standard IVF-PQ
    # re-rank stage (full-precision math touches |probes|×shortlist
    # rows, not the corpus; at 100 TB this is the stage that buys back
    # the 4-bit codes' resolution)
    pv = with_e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), F.col("ed").alias("pe")
    )
    cv = with_e.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), F.col("ed").alias("cve")
    )
    refined = (
        shortlist.join(F.broadcast(pv), "probe_id")
        .join(cv, "cand_id")
        .select(
            "probe_id",
            "cand_id",
            "adc_dist",
            F.round(cosine(F.col("pe"), F.col("cve")), 6).alias("cos_sim"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return refined.withColumn("rn", F.row_number().over(w).cast("long")).where(
        F.col("rn") <= 3
    )


def _ivfpq_build_index(
    spark: SparkSession,
    sf_dir: str,
    max_nprobe: int,
    e: DataFrame | None = None,
):
    """The codebook-INDEPENDENT half of the IVF-PQ index: coarse cells,
    per-candidate residuals (one cell per vector via partial max_by),
    and the probe-side nprobe cell fan-out with residuals per probed
    cell. Split out of _ivfpq_adc_scored (r13 review find) so a
    multi-codebook sweep builds this expensive stage ONCE and only the
    codebook train/encode/score stage runs per arm. Returns
    ``(with_e, cand_res, probe_cells)``; cand_res is lazily
    checkpointed (it feeds both the codebook training collect and the
    encode pass)."""
    if e is None:
        e = load_table(spark, sf_dir, "embeddings")
    hk = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    with_e = e.select("vec_id", _emb_double().alias("ed"), hk.alias("hk"))
    cents = (
        with_e.orderBy("hk", "vec_id")
        .limit(IVF_K)
        .select(
            F.row_number().over(W.orderBy("hk", "vec_id")).alias("cent_id"),
            F.col("ed").alias("cent"),
        )
    )
    resid = F.zip_with("ed", "cent", lambda x, y: x - y)

    # candidates: ONE cell per vector (partial max_by), residual kept
    cand_scored = with_e.where(F.col("vec_id") >= 20).join(
        F.broadcast(cents)
    ).select(
        "vec_id",
        "cent_id",
        cosine(F.col("ed"), F.col("cent")).alias("cos_c"),
        resid.alias("res"),
    )
    cand_res = (
        cand_scored.groupBy("vec_id")
        .agg(
            F.expr(
                "max_by(named_struct('cell', cent_id, 'ed', res),"
                " named_struct('c', cos_c, 'i', -cent_id))"
            ).alias("m")
        )
        .select("vec_id", F.col("m.cell").alias("cell"), F.col("m.ed").alias("ed"))
        .localCheckpoint(eager=False)
    )

    # probes: nprobe nearest cells, residual PER probed cell
    probe_scored = with_e.where(F.col("vec_id") < 20).join(
        F.broadcast(cents)
    ).select(
        F.col("vec_id").alias("probe_id"),
        "cent_id",
        cosine(F.col("ed"), F.col("cent")).alias("cos_c"),
        resid.alias("rp"),
    )
    wp = W.partitionBy("probe_id").orderBy(F.col("cos_c").desc(), F.col("cent_id"))
    probe_cells = (
        probe_scored.withColumn("rnc", F.row_number().over(wp))
        .where(F.col("rnc") <= max_nprobe)
        .select("probe_id", F.col("cent_id").alias("cell"), "rp", "rnc")
    )
    return with_e, cand_res, probe_cells


def _nearest_sq(S, mat):
    """Squared-L2 nearest-centroid kernel shared by the large-k
    trainer and encoder (one implementation — the two must stay
    numerically identical). The per-dimension accumulation is an
    EXPLICIT sequential loop: np.sum(axis=-1) uses numpy's pairwise
    8-accumulator tree even on tiny axes, which reorders the adds and
    differs from Spark/DuckDB's left-to-right fold in the last ulps
    (r13 third-review find — measured on this exact shape; codes only
    survived by corpus luck). d starts at 0.0 and adds one squared
    difference per dimension, exactly the fold's ((0+d1)+d2)+...
    Returns (dists n x k, argmin-first codes n)."""
    import numpy as np

    n, sub = S.shape
    d = np.zeros((n, mat.shape[0]), dtype=np.float64)
    for t in range(sub):
        diff = S[:, t, None] - mat[None, :, t]
        d += diff * diff
    return d, d.argmin(axis=1)


def _pq_train_local(base: DataFrame, m: int, sub: int, k: int, iters: int):
    """Driver-side numpy replica of _pq_train for LARGE codebooks —
    the same Lloyd chain (lowest-vec_id init, first-minimum argmin,
    9-dp HALF_UP model rounding, empty-cluster carry-over), computed
    on the collected training sample instead of k-way interpreted
    argmin expressions per refinement (at k=256 the expression path
    spent ~28 s of interpreter time on a 1k-row corpus). Collecting
    the sample is the FAISS training shape — PQ codebooks are always
    trained on a bounded in-memory sample; the sample here is the
    op's whole synthetic corpus (1020×64 doubles ≈ 0.5 MB), and the
    result feeds the same broadcast-literal / Arrow encode paths.

    Exactness: rounding goes through Decimal(repr(x)) with
    ROUND_HALF_UP — the same shortest-repr + HALF_UP pipeline Spark's
    round(double, 9) uses (BigDecimal.valueOf → setScale) — and BOTH
    accumulations are explicit sequential folds: distances via the
    shared _nearest_sq kernel, and (since r14, r13 ADVICE #1) the
    centroid update as a member-order left fold then divide, never
    numpy's pairwise-reordered axis-mean — so the kernel's rounding
    behavior no longer depends on cluster population size.
    tests/test_vector.py pins _pq_train_local == _pq_train BIT-EXACT
    at k=256 (the gated-in configuration); at small k with ~60-member
    clusters the corpus's n/1000-derived values produce exactly-
    representable midpoints where ANY single sequential order and
    Spark's partition-merge order can differ by one ulp and HALF_UP
    flips — which is why this trainer is gated to pq_k > 64 and
    _pq_train remains the small-k path (the gate is about matching
    Spark's nondeterministic merge order, not about this kernel's
    internal summation discipline)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    rows = [list(r["ed"]) for r in base.orderBy("vec_id").select("ed").collect()]
    if not rows:
        return [[] for _ in range(m)]
    X = np.asarray(rows, dtype=np.float64)
    q9 = Decimal("1E-9")

    def _r9(v: float) -> float:
        return float(Decimal(repr(float(v))).quantize(q9, rounding=ROUND_HALF_UP))

    models = []
    for j in range(m):
        S = X[:, j * sub : (j + 1) * sub]
        model = S[: min(k, len(S))].copy()
        for _ in range(iters - 1):
            _, assign = _nearest_sq(S, model)
            for c in range(len(model)):
                mem = S[assign == c]
                if len(mem):
                    # explicit sequential fold over members (ascending
                    # vec_id), then divide — NOT mem.mean(axis=0):
                    # numpy's axis-mean uses the pairwise 8-accumulator
                    # tree, which reorders the adds vs a left-to-right
                    # fold and can flip a 9-dp HALF_UP rounding for
                    # populous clusters (r13 ADVICE #1; same discipline
                    # as _nearest_sq's per-dimension fold)
                    acc = np.zeros(S.shape[1], dtype=np.float64)
                    for row in mem:
                        acc += row
                    model[c] = [_r9(x) for x in acc / len(mem)]
        models.append([[float(x) for x in c] for c in model])
    return models


def _pq_encode_arrow(cand_res: DataFrame, models) -> DataFrame:
    """Batched numpy PQ encode over Arrow batches — the large-k encode
    path (see the pq_k > 64 branch in _ivfpq_adc_scored for why and
    for the bit-identity argument). Emits (cand_id, cell, dq) with dq
    the reconstruction, exactly like the expression-tree encode."""
    import numpy as np
    import pandas as pd

    mats = [np.asarray(m, dtype=np.float64) for m in models]
    sub = PQ_SUB

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ed = np.asarray(
                [np.asarray(x, dtype=np.float64) for x in pdf["ed"]]
            )
            parts = []
            for j, mat in enumerate(mats):
                sj = ed[:, j * sub : (j + 1) * sub]
                _, codes = _nearest_sq(sj, mat)
                parts.append(mat[codes])
            dq = np.concatenate(parts, axis=1)
            yield pd.DataFrame(
                {
                    "cand_id": pdf["vec_id"],
                    "cell": pdf["cell"],
                    "dq": [row.tolist() for row in dq],
                }
            )

    return cand_res.mapInPandas(
        encode, "cand_id bigint, cell int, dq array<double>"
    )


def _ivfpq_adc_scored(
    spark: SparkSession,
    sf_dir: str,
    max_nprobe: int,
    e: DataFrame | None = None,
    pq_k: int = PQ_K,
    index=None,
):
    """Shared IVF-PQ index build + ADC scoring (the expensive stage:
    cells, residuals, PQ codebook training, candidate encode, probe
    fan-out). Returns ``(with_e, scored)`` where ``scored`` has
    (probe_id, cand_id, rnc, adc_dist) — ``rnc`` is the probe's rank
    of the candidate's cell, so every nprobe <= max_nprobe arm is a
    FILTER on one shared table (the production sweep contract: one
    index, probe-side-only knobs). ``scored`` is None on an empty
    corpus (no codebooks to train). ``e`` overrides the embedding
    source (scripts/ann_clustered_sweep.py feeds the planted-cluster
    corpus through the same index build); ``pq_k`` the per-subspace
    codebook size (16 = 4-bit codes; 256 = the FAISS-standard 8-bit
    answer to the quantization ceiling, r12 VERDICT #5); ``index`` a
    prebuilt _ivfpq_build_index result so a multi-codebook sweep
    shares the cells/residuals/probe fan-out across arms."""
    with_e, cand_res, probe_cells = index or _ivfpq_build_index(
        spark, sf_dir, max_nprobe, e
    )
    train = _pq_train_local if pq_k > 64 else _pq_train
    models = train(cand_res, PQ_M, PQ_SUB, pq_k, PQ_ITERS)
    if not any(models):
        return with_e, None
    if pq_k > 64:
        # Arrow-vectorized encode for large codebooks: Spark evaluates
        # transform/aggregate lambdas on the expression INTERPRETER
        # (higher-order functions are outside whole-stage codegen), so
        # the k-way argmin costs O(k·sub) interpreter steps per row —
        # measured 39 s at k=256 on the 1k-row clustered corpus vs
        # 6 s at k=16. numpy does the same argmin as one batched
        # einsum-style kernel (this IS the production encode shape: a
        # vectorized kernel per Arrow batch, codebook broadcast as a
        # 16 KB array). Semantics are bit-identical to the expression
        # path BY CONSTRUCTION: the shared _nearest_sq kernel
        # accumulates per-dimension in an explicit sequential loop
        # (the fold order — numpy's own axis-sum is pairwise and
        # reorders the adds, r13 third-review find), and argmin takes
        # the FIRST minimum (the array_position-of-min tiebreak) —
        # pinned by the op's DuckDB oracle, which hash-checks the
        # resulting reconstruction lists.
        coded = _pq_encode_arrow(cand_res, models)
    else:
        cols, recon = [], []
        for j, model in enumerate(models):
            sj = F.slice("ed", j * PQ_SUB + 1, PQ_SUB)
            matrix = _pq_matrix(model)
            cols.append(_pq_code(sj, matrix).cast("int").alias(f"code_{j}"))
            recon.append(F.element_at(matrix, F.col(f"code_{j}") + 1))
        coded = (
            cand_res.select(F.col("vec_id").alias("cand_id"), "cell", "ed", *cols)
            .select("cand_id", "cell", F.concat(*recon).alias("dq"))
        )
    l2 = F.aggregate(
        F.zip_with("rp", "dq", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        _add,
    )
    scored = coded.join(F.broadcast(probe_cells), "cell").select(
        "probe_id", "cand_id", "rnc", F.round(l2, 6).alias("adc_dist")
    )
    return with_e, scored


_SWEEP_SHORTLISTS = (16, 32, 64)


def _ivfpq_sweep_duck(m: int, sub: int, k: int, iters: int) -> str:
    """ann_ivfpq_sweep oracle: the full IVF-PQ pyramid built ONCE
    (cells, residual codebooks, codes, ADC scores with the probe's
    cell rank rnc attached), then every (nprobe, shortlist) arm is a
    filter + rank over the shared scored table — mirroring the Spark
    plan's shared-index sweep exactly."""
    dim = m * sub
    max_np = max(_SWEEP_NPROBES)
    nps = ", ".join(str(p) for p in _SWEEP_NPROBES)
    sls = ", ".join(str(s) for s in _SWEEP_SHORTLISTS)
    head_extra = _ivfpq_head_ctes(dim)
    joins = " ".join(f"JOIN r{j} USING (vec_id)" for j in range(m))
    dq = "flatten([" + ", ".join(f"dq_{j}" for j in range(m)) + "])"
    return (
        _pq_cte_prefix(m, sub, k, iters, src="cand_res", head_extra=head_extra)
        + f""",
    coded AS MATERIALIZED (
      SELECT cand_res.vec_id AS cand_id, cand_res.cell, {dq} AS dq
      FROM cand_res {joins})"""
        + _probe_cells_cte(dim, max_np, with_rnc=True)
        + f""",
    scored AS MATERIALIZED (
      SELECT p.probe_id, c.cand_id, p.rnc,
             round({_duck_l2("p.rp", "c.dq")}, 6) AS adc_dist
      FROM probe_cells p JOIN coded c USING (cell)),
    nps AS (SELECT unnest([{nps}]) AS nprobe),
    sls AS (SELECT unnest([{sls}]) AS shortlist),
    adc_ranked AS MATERIALIZED (
      SELECT a.nprobe, s.probe_id, s.cand_id,
             row_number() OVER (
               PARTITION BY a.nprobe, s.probe_id
               ORDER BY s.adc_dist ASC, s.cand_id ASC) AS rn_adc
      FROM nps a JOIN scored s ON s.rnc <= a.nprobe),
    short AS (
      SELECT r.nprobe, b.shortlist, r.probe_id, r.cand_id
      FROM sls b JOIN adc_ranked r ON r.rn_adc <= b.shortlist),
    top3 AS (
      SELECT nprobe, shortlist, probe_id, cand_id FROM (
        SELECT s.nprobe, s.shortlist, s.probe_id, s.cand_id,
               row_number() OVER (
                 PARTITION BY s.nprobe, s.shortlist, s.probe_id
                 ORDER BY round({_duck_cos("pv.ed", "cv.ed")}, 6) DESC,
                          s.cand_id ASC) AS rn
        FROM short s JOIN eh pv ON pv.vec_id = s.probe_id
                     JOIN eh cv ON cv.vec_id = s.cand_id) t WHERE rn <= 3),
    truth AS MATERIALIZED (
      SELECT probe_id, cand_id FROM (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY round({_duck_cos("p.ed", "c.ed")}, 6) DESC,
                          c.vec_id ASC) AS rn
        FROM eh p JOIN eh c ON p.vec_id < 20 AND c.vec_id >= 20
      ) t WHERE rn <= 3),
    hits AS (
      SELECT nprobe, shortlist, CAST(count(*) AS BIGINT) AS hits
      FROM top3 JOIN truth USING (probe_id, cand_id) GROUP BY 1, 2),
    adc_rows AS (
      SELECT a.nprobe, CAST(count(*) AS BIGINT) AS adc_rows
      FROM nps a JOIN scored s ON s.rnc <= a.nprobe GROUP BY 1),
    tn AS (SELECT CAST(count(*) AS BIGINT) AS truth_n FROM truth)
    SELECT g.nprobe, g.shortlist, ar.adc_rows,
           CAST(coalesce(h.hits, 0) AS BIGINT) AS hits, tn.truth_n,
           round(CAST(coalesce(h.hits, 0) AS DOUBLE) / tn.truth_n, 4) AS recall
    FROM (SELECT n.nprobe, s.shortlist FROM nps n, sls s) g
    LEFT JOIN hits h USING (nprobe, shortlist)
    JOIN adc_rows ar USING (nprobe), tn
    """
    )


def _arm_adc_recall_grid(
    spark: SparkSession,
    with_e: DataFrame,
    arms: DataFrame,
    arm_col: str,
    arm_values,
    arm_type: str,
    shortlists,
) -> DataFrame:
    """ONE ADC-arm recall-evaluation pyramid (r14 review find: the
    nprobe sweep, the pq-bits sweep, and the OPQ op each hand-copied
    ~80 lines of identical truth / adc-rank / per-shortlist /
    exact-re-rank / hits / grid machinery — the same drift class the
    r13 review fixed on the oracle side by extracting
    _ivfpq_head_ctes). ``arms`` carries (probe_id, cand_id, adc_dist,
    <arm_col>); probes are vec_id < 20, candidates >= 20 (the corpus
    split every IVF-PQ op uses). Returns the (arm, shortlist) grid:
    (<arm_col>, shortlist, adc_rows, hits, truth_n, recall)."""
    arms = arms.localCheckpoint(eager=False)

    probes = with_e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), F.col("ed").alias("pe")
    )
    cands = with_e.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), F.col("ed").alias("cve")
    )
    wt = W.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    truth = (
        cands.join(F.broadcast(probes))
        .select(
            "probe_id",
            "cand_id",
            F.round(cosine(F.col("pe"), F.col("cve")), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(wt))
        .where(F.col("rn") <= 3)
        .select("probe_id", "cand_id")
        .localCheckpoint()
    )

    wa = W.partitionBy(arm_col, "probe_id").orderBy(
        F.col("adc_dist").asc(), F.col("cand_id").asc()
    )
    ranked = arms.withColumn("rn_adc", F.row_number().over(wa))
    short = None
    for sl in shortlists:
        s = ranked.where(F.col("rn_adc") <= sl).withColumn(
            "shortlist", F.lit(sl)
        )
        short = s if short is None else short.unionByName(s)

    wr = W.partitionBy(arm_col, "shortlist", "probe_id").orderBy(
        F.col("cos").desc(), F.col("cand_id").asc()
    )
    top3 = (
        short.join(F.broadcast(probes), "probe_id")
        .join(cands, "cand_id")
        .select(
            arm_col,
            "shortlist",
            "probe_id",
            "cand_id",
            F.round(cosine(F.col("pe"), F.col("cve")), 6).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= 3)
    )
    hits = top3.join(truth, ["probe_id", "cand_id"]).groupBy(
        arm_col, "shortlist"
    ).agg(F.count("*").alias("hits"))
    adc = arms.groupBy(arm_col).agg(F.count("*").alias("adc_rows"))
    grid = spark.createDataFrame(
        [(a, s) for a in arm_values for s in shortlists],
        f"{arm_col} {arm_type}, shortlist int",
    )
    tn = truth.agg(F.count("*").alias("truth_n"))
    return (
        grid.join(hits, [arm_col, "shortlist"], "left")
        .join(F.broadcast(adc), arm_col)
        .crossJoin(F.broadcast(tn))
        .select(
            arm_col,
            "shortlist",
            "adc_rows",
            F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits"),
            "truth_n",
            F.round(
                F.coalesce(F.col("hits"), F.lit(0)) / F.col("truth_n"), 4
            ).alias("recall"),
        )
    )


@op("ann_ivfpq_sweep", oracle=_ivfpq_sweep_duck(PQ_M, PQ_SUB, PQ_K, PQ_ITERS))
def ann_ivfpq_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ recall/cost FRONTIER (VERDICT r9 #4): recall@3 and
    ADC-evaluation count across (nprobe ∈ {1,2,4,8}) × (shortlist ∈
    {16,32,64}) — the production knobs as a measured curve, not the
    single point vec_knn_ivf_pq ships (nprobe=4, shortlist=32). The
    expensive stage (cells, residual PQ codebook training, candidate
    encode, probe-side ADC scoring) is built ONCE with the probe's
    cell rank attached (_ivfpq_adc_scored, max nprobe); every arm is
    then a FILTER + rank over that shared table, the same
    probe-side-cheap sweep contract as ann_nprobe_sweep / multi-probe
    LSH. adc_rows (ADC distance evaluations per probe panel) is the
    deterministic cost axis — at 100 TB it IS the dominant search
    cost, so (adc_rows, recall) is the frontier the knob choice reads.

    Scale: one codebook training (k·m·sub driver-side doubles), one
    candidate encode map pass, one ADC shuffle at max-nprobe fan-out;
    the 12 arms add only window ranks over the bounded scored table
    (|probes| × probed-cell sizes). Exact cosine touches only
    shortlist survivors. SCALING.md records the measured wall per
    config beside this op's recall curve."""
    grid_schema = (
        "nprobe int, shortlist int, adc_rows bigint, hits bigint,"
        " truth_n bigint, recall double"
    )
    with_e, scored = _ivfpq_adc_scored(spark, sf_dir, max(_SWEEP_NPROBES))
    if scored is None:
        return spark.createDataFrame([], grid_schema)
    scored = scored.localCheckpoint(eager=False)

    arms = None
    for np_ in _SWEEP_NPROBES:
        b = (
            scored.where(F.col("rnc") <= np_)
            .drop("rnc")
            .withColumn("nprobe", F.lit(np_))
        )
        arms = b if arms is None else arms.unionByName(b)
    return _arm_adc_recall_grid(
        spark, with_e, arms, "nprobe", _SWEEP_NPROBES, "int",
        _SWEEP_SHORTLISTS,
    )


_PQBITS_NPROBE = 8  # cells wide open: isolates QUANTIZATION loss
_PQBITS_SHORTLISTS = (16, 64)
_PQBITS_ARMS = ((4, 16), (8, 256))  # (code bits, centroids) per subspace


def _arm_recall_tail_duck(
    arm: str, grid_src: str, shortlists, final_arm_cols: str
) -> str:
    """The shared oracle TAIL of the ADC-arm recall pyramid (the SQL
    twin of _arm_adc_recall_grid, same r14 review find): everything
    from the shortlist unnest through the final grid select, given an
    upstream ``scored`` CTE carrying ({arm}, probe_id, cand_id,
    adc_dist) and the ``eh`` corpus CTE. ``grid_src`` enumerates the
    arm values; ``final_arm_cols`` renders the arm/shortlist (and any
    derived, e.g. code_bytes) output columns off alias ``g``."""
    sls = ", ".join(str(x) for x in shortlists)
    return f""",
    sls AS (SELECT unnest([{sls}]) AS shortlist),
    adc_ranked AS MATERIALIZED (
      SELECT {arm}, probe_id, cand_id,
             row_number() OVER (
               PARTITION BY {arm}, probe_id
               ORDER BY adc_dist ASC, cand_id ASC) AS rn_adc
      FROM scored),
    short AS (
      SELECT r.{arm}, b.shortlist, r.probe_id, r.cand_id
      FROM sls b JOIN adc_ranked r ON r.rn_adc <= b.shortlist),
    top3 AS (
      SELECT {arm}, shortlist, probe_id, cand_id FROM (
        SELECT s.{arm}, s.shortlist, s.probe_id, s.cand_id,
               row_number() OVER (
                 PARTITION BY s.{arm}, s.shortlist, s.probe_id
                 ORDER BY round({_duck_cos("pv.ed", "cv.ed")}, 6) DESC,
                          s.cand_id ASC) AS rn
        FROM short s JOIN eh pv ON pv.vec_id = s.probe_id
                     JOIN eh cv ON cv.vec_id = s.cand_id) t WHERE rn <= 3),
    truth AS MATERIALIZED (
      SELECT probe_id, cand_id FROM (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
               row_number() OVER (
                 PARTITION BY p.vec_id
                 ORDER BY round({_duck_cos("p.ed", "c.ed")}, 6) DESC,
                          c.vec_id ASC) AS rn
        FROM eh p JOIN eh c ON p.vec_id < 20 AND c.vec_id >= 20
      ) t WHERE rn <= 3),
    hits AS (
      SELECT {arm}, shortlist, CAST(count(*) AS BIGINT) AS hits
      FROM top3 JOIN truth USING (probe_id, cand_id) GROUP BY 1, 2),
    adc AS (
      SELECT {arm}, CAST(count(*) AS BIGINT) AS adc_rows
      FROM scored GROUP BY 1),
    tn AS (SELECT CAST(count(*) AS BIGINT) AS truth_n FROM truth)
    SELECT {final_arm_cols},
           ar.adc_rows,
           CAST(coalesce(h.hits, 0) AS BIGINT) AS hits, tn.truth_n,
           round(CAST(coalesce(h.hits, 0) AS DOUBLE) / tn.truth_n, 4)
             AS recall
    FROM (SELECT b.{arm}, s.shortlist
          FROM ({grid_src}) b, sls s) g
    LEFT JOIN hits h USING ({arm}, shortlist)
    JOIN adc ar USING ({arm}), tn
    """


def _pq_bits_clustered_duck(m: int, sub: int, iters: int) -> str:
    """ann_pq_bits_clustered oracle: the full IVF-PQ pyramid on the
    planted-cluster generator, with TWO residual codebook chains — the
    shipped 4-bit (k=16) and the FAISS-standard 8-bit (k=256) — via
    tag-namespaced _pq_subspace_ctes, then every (bits, shortlist) arm
    is a rank over its scored table. Mirrors the Spark plan exactly."""
    dim = m * sub
    head = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
      FROM ({_CLUSTERED_EMB_SQL}) _clus)""" + _ivfpq_head_ctes(dim)
    chains = "".join(
        _pq_subspace_ctes(m, sub, k, iters, src="cand_res", tag=tag)
        for (tag, k) in (("", _PQBITS_ARMS[0][1]), ("b", _PQBITS_ARMS[1][1]))
    )
    coded = []
    for bits, tag in ((_PQBITS_ARMS[0][0], ""), (_PQBITS_ARMS[1][0], "b")):
        joins = " ".join(f"JOIN r{tag}{j} USING (vec_id)" for j in range(m))
        dq = "flatten([" + ", ".join(f"dq_{j}" for j in range(m)) + "])"
        coded.append(f""",
    coded{bits} AS MATERIALIZED (
      SELECT cand_res.vec_id AS cand_id, cand_res.cell, {dq} AS dq
      FROM cand_res {joins})""")
    return (
        head
        + chains
        + "".join(coded)
        + _probe_cells_cte(dim, _PQBITS_NPROBE)
        + f""",
    scored AS MATERIALIZED (
      SELECT {_PQBITS_ARMS[0][0]} AS pq_bits, p.probe_id, c.cand_id,
             round({_duck_l2("p.rp", "c.dq")}, 6) AS adc_dist
      FROM probe_cells p JOIN coded{_PQBITS_ARMS[0][0]} c USING (cell)
      UNION ALL
      SELECT {_PQBITS_ARMS[1][0]} AS pq_bits, p.probe_id, c.cand_id,
             round({_duck_l2("p.rp", "c.dq")}, 6) AS adc_dist
      FROM probe_cells p JOIN coded{_PQBITS_ARMS[1][0]} c USING (cell))"""
        + _arm_recall_tail_duck(
            "pq_bits",
            f"SELECT unnest([{_PQBITS_ARMS[0][0]}, {_PQBITS_ARMS[1][0]}])"
            " AS pq_bits",
            _PQBITS_SHORTLISTS,
            "CAST(g.pq_bits AS INTEGER) AS pq_bits,\n"
            "           CAST(g.shortlist AS INTEGER) AS shortlist,\n"
            "           CAST(g.pq_bits AS INTEGER) AS code_bytes",
        )
    )


@op(
    "ann_pq_bits_clustered",
    oracle=_pq_bits_clustered_duck(PQ_M, PQ_SUB, PQ_ITERS),
)
def ann_pq_bits_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BUYING BACK THE PQ CEILING (r12 VERDICT #5): ann_recall_clustered
    exposed that on clusterable embeddings the IVF-PQ limit is
    QUANTIZATION loss, not coarse cells (recall@3 capped ~0.85 at
    shortlist 64 with cells wide open). This op runs the same planted-
    cluster corpus through TWO residual codebook budgets at nprobe=8
    (cells no longer binding) — the shipped 4-bit codes (16 centroids/
    subspace, 64x compression) and the standard FAISS answer, 8-bit
    codes (256 centroids/subspace, 32x compression) — and puts the
    recall difference on the oracle-checked record: (pq_bits,
    shortlist, code_bytes, adc_rows, hits, recall). adc_rows stays the
    cost axis: both arms evaluate the SAME number of ADC distances (the
    nprobe fan-out is codebook-independent); what 8-bit buys is
    per-distance resolution at 2x the code bytes. SCALING.md's
    clustered-regime table records the measured point where recall@3
    clears 0.90.

    Scale contract: identical to ann_ivfpq_sweep — two tiny driver-side
    codebook trainings (k*m*sub doubles; the k=256 codebook is 16 KB),
    one encode map pass per arm (the argmin transform-lambda is O(k)
    DATA, not an unrolled expression tree), one shared nprobe=8 ADC
    shuffle per arm, exact cosine only on shortlist survivors.

    Note code_bytes == pq_bits numerically only because m=8 subspaces:
    bytes = m*bits/8."""
    grid_schema = (
        "pq_bits int, shortlist int, code_bytes int, adc_rows bigint,"
        " hits bigint, truth_n bigint, recall double"
    )
    # the codebook-independent index (cells, residuals, probe fan-out)
    # is built ONCE; each arm only trains/encodes/scores its codebook
    index = _ivfpq_build_index(
        spark, sf_dir, _PQBITS_NPROBE, e=_clustered_embeddings(spark)
    )
    with_e = index[0]
    arms = None
    for bits, k in _PQBITS_ARMS:
        _, scored = _ivfpq_adc_scored(
            spark, sf_dir, _PQBITS_NPROBE, pq_k=k, index=index
        )
        if scored is None:
            return spark.createDataFrame([], grid_schema)
        b = scored.drop("rnc").withColumn("pq_bits", F.lit(bits))
        arms = b if arms is None else arms.unionByName(b)
    return _arm_adc_recall_grid(
        spark, with_e, arms, "pq_bits", [b for b, _ in _PQBITS_ARMS],
        "int", _PQBITS_SHORTLISTS,
    ).select(
        "pq_bits",
        "shortlist",
        (F.col("pq_bits") * PQ_M / 8).cast("int").alias("code_bytes"),
        "adc_rows",
        "hits",
        "truth_n",
        "recall",
    )


# --------------------------------------------------------------------------
# OPQ-style rotation (r13 VERDICT #4): push the 4-bit / 64x-compression
# recall past ann_pq_bits_clustered's measured 0.85 ceiling by rotating
# the residual space before product quantization.
# --------------------------------------------------------------------------

_OPQ_SHORTLISTS = _PQBITS_SHORTLISTS  # same evaluation grid as the bits sweep


def _opq_rotate(df: DataFrame, col: str, mat=None) -> DataFrame:
    """Apply an OPQ rotation to a vector column, fold-exact.

    rotated[i] = sum_j mat[i][j] * x[j], accumulated as an explicit
    sequential fold over j (ascending) — numpy's matmul/einsum reorder
    the adds (blocked dot products), which would diverge from the
    DuckDB oracle's left-to-right `m1*x1 + m2*x2 + ...` chains in the
    last ulps and could flip a downstream 9-dp HALF_UP model rounding
    (the same discipline as _nearest_sq / _pq_train_local). Schema is
    preserved, so a rotated cand_res / probe_cells drops into
    _ivfpq_adc_scored unchanged. ``mat`` defaults to the FROZEN
    committed rotation (the planted-cluster OPQ_ROT the oracle
    mirrors); scripts/opq_uniform_probe.py passes its own re-derived
    matrix to run the same arm on the uniform corpus."""
    import numpy as np

    if mat is None:
        from slowlog2clickhouse_spark.operators._opq_rotation import OPQ_ROT

        mat = OPQ_ROT
    MT = np.asarray(mat, dtype=np.float64).T  # MT[j, i] = ROT[i][j]

    def rot(batches):
        for pdf in batches:
            if len(pdf):
                X = np.asarray(
                    [np.asarray(x, dtype=np.float64) for x in pdf[col]]
                )
                acc = np.zeros_like(X)
                for j in range(X.shape[1]):
                    acc += X[:, j : j + 1] * MT[j : j + 1, :]
                pdf = pdf.copy()
                pdf[col] = [r.tolist() for r in acc]
            yield pdf

    return df.mapInPandas(rot, df.schema)


def _opq_rot_list_sql(vec: str, dim: int) -> str:
    """The frozen rotation as a DuckDB list expression: element i is an
    EXPLICIT left-associated add chain `r_i1*v[1] + r_i2*v[2] + ...`
    (never sum()/list_sum(), whose fold order is engine-internal), so
    the oracle's rotated doubles are bit-identical to _opq_rotate's
    sequential numpy fold."""
    from slowlog2clickhouse_spark.operators._opq_rotation import OPQ_ROT

    rows = []
    for i in range(dim):
        terms = " + ".join(
            f"{OPQ_ROT[i][j]!r} * {vec}[{j + 1}]" for j in range(dim)
        )
        rows.append(f"({terms})")
    return "[" + ", ".join(rows) + "]"


def _opq_rotation_duck(m: int, sub: int, k: int, iters: int) -> str:
    """ann_opq_rotation oracle: the full IVF-PQ pyramid on the planted-
    cluster generator with TWO 4-bit codebook chains — identity
    residual space vs the frozen OPQ rotation (rotated cand_res +
    rotated probe residuals through the same tag-namespaced Lloyd
    CTEs). Mirrors the Spark plan exactly; the rotation itself is the
    committed literal matrix (scripts/gen_opq_rotation.py)."""
    dim = m * sub
    head = f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
      FROM ({_CLUSTERED_EMB_SQL}) _clus)""" + _ivfpq_head_ctes(dim)
    head += f""",
    cand_res_r AS MATERIALIZED (
      SELECT vec_id, cell, {_opq_rot_list_sql("ed", dim)} AS ed
      FROM cand_res)"""
    chains = _pq_subspace_ctes(
        m, sub, k, iters, src="cand_res", tag=""
    ) + _pq_subspace_ctes(m, sub, k, iters, src="cand_res_r", tag="r")
    coded = []
    for rot, tag in (("identity", ""), ("opq", "r")):
        joins = " ".join(f"JOIN r{tag}{j} USING (vec_id)" for j in range(m))
        dq = "flatten([" + ", ".join(f"dq_{j}" for j in range(m)) + "])"
        src = "cand_res_r" if tag else "cand_res"
        coded.append(f""",
    coded_{rot} AS MATERIALIZED (
      SELECT {src}.vec_id AS cand_id, {src}.cell, {dq} AS dq
      FROM {src} {joins})""")
    return (
        head
        + chains
        + "".join(coded)
        + _probe_cells_cte(dim, _PQBITS_NPROBE)
        + f""",
    probe_cells_r AS MATERIALIZED (
      SELECT probe_id, cell, {_opq_rot_list_sql("rp", dim)} AS rp
      FROM probe_cells),
    scored AS MATERIALIZED (
      SELECT 'identity' AS rot, p.probe_id, c.cand_id,
             round({_duck_l2("p.rp", "c.dq")}, 6) AS adc_dist
      FROM probe_cells p JOIN coded_identity c USING (cell)
      UNION ALL
      SELECT 'opq' AS rot, p.probe_id, c.cand_id,
             round({_duck_l2("p.rp", "c.dq")}, 6) AS adc_dist
      FROM probe_cells_r p JOIN coded_opq c USING (cell))"""
        + _arm_recall_tail_duck(
            "rot",
            "SELECT unnest(['identity', 'opq']) AS rot",
            _OPQ_SHORTLISTS,
            "g.rot, CAST(g.shortlist AS INTEGER) AS shortlist",
        )
    )


@op(
    "ann_opq_rotation",
    oracle=_opq_rotation_duck(PQ_M, PQ_SUB, PQ_K, PQ_ITERS),
)
def ann_opq_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-STYLE ROTATION at 64x compression (r13 VERDICT #4):
    ann_pq_bits_clustered showed 4-bit codes cap recall@3 at ~0.85
    and bought it back by DOUBLING the code budget (8-bit, 32x). This
    op buys recall back at the SAME 4 bits/subspace by fixing the
    geometry instead: the planted-cluster IVF residuals are strongly
    anisotropic (covariance spectrum 4.16 vs 0.06 — the coarse cells
    leave between-cluster structure in the residuals), so an identity
    dimension split hands whole subspaces nothing but noise while one
    direction carries most of the variance. The frozen rotation
    (PCA eigenbasis + snake-balanced allocation of eigen-directions
    across the m=8 subspaces — the OPQ-P construction; derivation in
    scripts/gen_opq_rotation.py, matrix committed as a 6-dp literal so
    the DuckDB oracle applies the IDENTICAL transform) equalizes
    per-subspace variance before the same 4-bit Lloyd chains run.
    Output: (rot in {identity, opq}, shortlist, adc_rows, hits,
    truth_n, recall) — identical adc_rows by construction (the
    rotation is probe/candidate-symmetric and cell assignment is
    untouched), so the recall delta is pure geometry. Measured:
    recall@3 at shortlist 64 rises 0.85 -> ~0.92 at unchanged cost
    (SCALING.md r14).

    Scale contract: the rotation is one schema-preserving Arrow map
    pass over candidates (64 fused multiply-add passes per batch) and
    a driver-tiny one over probe residuals; codebook training and ADC
    are byte-for-byte the existing 4-bit paths. Truth and the exact
    re-rank stay in the ORIGINAL embedding space — the rotation only
    reshapes what the quantizer sees, so near-orthogonality of the
    rounded literal matrix is sufficient (both engines apply the same
    matrix; nothing downstream assumes exact isometry)."""
    grid_schema = (
        "rot string, shortlist int, adc_rows bigint,"
        " hits bigint, truth_n bigint, recall double"
    )
    index = _ivfpq_build_index(
        spark, sf_dir, _PQBITS_NPROBE, e=_clustered_embeddings(spark)
    )
    with_e = index[0]
    index_r = (
        with_e,
        _opq_rotate(index[1], "ed").localCheckpoint(eager=False),
        _opq_rotate(index[2], "rp").localCheckpoint(eager=False),
    )
    arms = None
    for rot, idx in (("identity", index), ("opq", index_r)):
        _, scored = _ivfpq_adc_scored(
            spark, sf_dir, _PQBITS_NPROBE, pq_k=PQ_K, index=idx
        )
        if scored is None:
            return spark.createDataFrame([], grid_schema)
        b = scored.drop("rnc").withColumn("rot", F.lit(rot))
        arms = b if arms is None else arms.unionByName(b)
    return _arm_adc_recall_grid(
        spark, with_e, arms, "rot", ["identity", "opq"], "string",
        _OPQ_SHORTLISTS,
    )


# --------------------------------------------------------------------------
# Incremental IVF maintenance — the 100 TB daily-ingest shape: the
# embedding store GROWS; the index must not be rebuilt to stay searchable.
# --------------------------------------------------------------------------


def _ivf_append_duck(nprobe: int) -> str:
    """vec_ivf_append oracle: frozen day-0 cells, day-1 vectors
    assigned by the same unrounded-cosine argmax, search over the
    union with epoch provenance — the whole append lifecycle re-derived
    in CTEs."""
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed,
             CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS hk
      FROM embeddings),
    cents AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY hk, vec_id) AS cent_id, ed AS cent
      FROM e WHERE vec_id >= 20 AND vec_id % 2 = 0
      ORDER BY hk, vec_id LIMIT {IVF_K}),
    cand_sc AS MATERIALIZED (
      SELECT e.vec_id AS cand_id, e.ed AS ce,
             CASE WHEN e.vec_id % 2 = 0 THEN 'day0' ELSE 'day1' END AS epoch,
             c.cent_id, {_duck_cos("e.ed", "c.cent")} AS cos_c
      FROM e JOIN cents c ON e.vec_id >= 20),
    cand_cells AS (
      SELECT cand_id, ce, epoch, cent_id AS cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY cand_id ORDER BY cos_c DESC, cent_id ASC) AS rnc
        FROM cand_sc) t WHERE rnc = 1),
    probe_sc AS MATERIALIZED (
      SELECT e.vec_id AS probe_id, e.ed AS pe, c.cent_id,
             {_duck_cos("e.ed", "c.cent")} AS cos_c
      FROM e JOIN cents c ON e.vec_id < 20),
    probe_cells AS (
      SELECT probe_id, pe, cent_id AS cell FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY cos_c DESC, cent_id ASC) AS rnc
        FROM probe_sc) t WHERE rnc <= {nprobe})
    SELECT probe_id, cand_id, epoch, cos_sim, CAST(rn AS BIGINT) AS rn FROM (
      SELECT p.probe_id, c.cand_id, c.epoch,
             round({_duck_cos("p.pe", "c.ce")}, 6) AS cos_sim,
             row_number() OVER (
               PARTITION BY p.probe_id
               ORDER BY round({_duck_cos("p.pe", "c.ce")}, 6) DESC,
                        c.cand_id ASC) AS rn
      FROM probe_cells p JOIN cand_cells c USING (cell)
    ) t WHERE rn <= 3
    """


@op("vec_ivf_append", oracle=_ivf_append_duck(IVF_NPROBE))
def vec_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL IVF index maintenance — the daily-ingest lifecycle
    at 100 TB, where the embedding store grows every day and a full
    index rebuild (re-sampling centroids, re-assigning history) is the
    thing you must never pay:

      1. day 0 (here: even candidate vec_ids) trains the coarse cells
         once — the hash-ranked deterministic sample, FROZEN from then
         on (exactly FAISS's `train once, add forever` contract);
      2. day 1's new vectors (odd vec_ids) are APPENDED: one broadcast
         argmax pass assigns each new vector to its nearest frozen
         cell — cost is O(|new| · K) map-side work on the new slice
         only, history is never touched, no shuffle of the store;
      3. search spans the union transparently: probes fan out to their
         nprobe nearest frozen cells and rank day-0 and day-1
         candidates together, with `epoch` provenance in the output.

    The oracle re-derives the whole lifecycle (frozen day-0 cells,
    argmax append, union search) in CTEs, so the hash pins that the
    appended vectors are genuinely searchable and rank exactly where
    brute cosine puts them within the probed cells.

    Scale contract: the frozen-centroid table is a K-row broadcast
    (16 here, ~4096 at corpus scale); the append touches only the new
    partition (a day's parquet directory); cell drift under
    distribution shift is an offline re-train decision — the measured
    knob is ann_recall_* on the grown store, not an online rebuild.
    tests/test_vector.py pins that day-1 rows surface in the top-3
    (the append is live, not write-only)."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = _emb_double()
    hk = F.conv(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    with_e = e.select("vec_id", emb.alias("ed"), hk.alias("hk"))

    day0 = with_e.where((F.col("vec_id") >= 20) & (F.col("vec_id") % 2 == 0))
    cents = (
        day0.orderBy("hk", "vec_id")
        .limit(IVF_K)
        .select(
            F.row_number().over(W.orderBy("hk", "vec_id")).alias("cent_id"),
            F.col("ed").alias("cent"),
        )
    )

    # the append step: ONE broadcast argmax pass per candidate —
    # map-side partial max_by keeps the shuffle at |candidates| rows
    # even though the broadcast fans out xK (the same discipline as
    # _vec_knn_ivf_impl; a row_number window here would shuffle the
    # full xK fan-out, contradicting this op's own scale contract —
    # r14 fourth-review find). Day-0 rows are re-derived because a
    # registered op is stateless; in the deployment only the day-1
    # slice runs this pass. epoch is pure parity of cand_id, derived
    # inline — no join back onto the store.
    cands = with_e.where(F.col("vec_id") >= 20).select(
        F.col("vec_id").alias("cand_id"), "ed"
    )
    cand_scored = cands.join(F.broadcast(cents)).select(
        "cand_id",
        "ed",
        "cent_id",
        cosine(F.col("ed"), F.col("cent")).alias("cos_c"),
    )
    cand_cells = (
        cand_scored.groupBy("cand_id")
        .agg(
            F.expr(
                "max_by(named_struct('cell', cent_id, 'ce', ed),"
                " named_struct('c', cos_c, 'i', -cent_id))"
            ).alias("m")
        )
        .select(
            "cand_id",
            F.col("m.cell").alias("cell"),
            F.col("m.ce").alias("ce"),
        )
        .withColumn(
            "epoch",
            F.when(F.col("cand_id") % 2 == 0, F.lit("day0")).otherwise(
                F.lit("day1")
            ),
        )
    )

    probes = with_e.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), "ed"
    )
    wp = W.partitionBy("probe_id").orderBy(
        F.col("cos_c").desc(), F.col("cent_id").asc()
    )
    probe_cells = (
        probes.join(F.broadcast(cents))
        .select(
            "probe_id",
            "ed",
            "cent_id",
            cosine(F.col("ed"), F.col("cent")).alias("cos_c"),
        )
        .withColumn("rnc", F.row_number().over(wp))
        .where(F.col("rnc") <= IVF_NPROBE)
        .select("probe_id", F.col("ed").alias("pe"), F.col("cent_id").alias("cell"))
    )

    wr = W.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return (
        probe_cells.join(cand_cells, "cell")
        .select(
            "probe_id",
            "cand_id",
            "epoch",
            F.round(cosine(F.col("pe"), F.col("ce")), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rn") <= 3)
        .select("probe_id", "cand_id", "epoch", "cos_sim", "rn")
    )
