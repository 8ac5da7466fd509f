"""Similarity search over embedding columns (array<float>).

Two paths, per the training-data-pipeline brief:

* :func:`cosine_topk` — exact brute-force top-k: broadcast the (small) probe
  set against the full embedding table; cosine is a pure Catalyst
  ``zip_with``/``aggregate`` fold (sequential, deterministic summation order
  → bit-reproducible and oracle-matchable), top-k via the WindowGroupLimit
  partial top-k (no executor holds more than k rows per probe).  At 100 TB
  this is one scan per probe batch — the right baseline when probes are few.
* :func:`lsh_bucket_topk` — the scale path: random-hyperplane LSH.
  Hyperplane weights come from the portable md5-60 family (deterministic,
  reproducible on any cluster, and DuckDB-oracle-checkable), mapped to
  [-1, 1).  Vectors land in 2^num_planes sign buckets; candidates are the
  probe's bucket plus all buckets within ``probe_radius`` hamming bits
  (multi-probe LSH), joined on bucket id — an equi-join, never a cross join.
  Recall<1 by design; the pytest suite measures it against cosine_topk.

The reference has no vector path at all; nearest analog is its VSM scoring
(hw3/Snippets.cpp:242-250).
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH60_MAX = float(1 << 60)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(probe_id, rank, vec_id, cos_sim): exact top-k cosine neighbors of
    each probe (self excluded); tie-break (cos desc, vec_id asc)."""
    from pyspark.sql import Window

    probes = (
        embeddings.filter(F.col(id_col).isin(probe_ids))
        .select(F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec"))
    )
    joined = embeddings.join(F.broadcast(probes), F.col(id_col) != F.col("probe_id"))
    sim = joined.select(
        "probe_id",
        F.col(id_col).alias("vec_id"),
        F.round(
            _dot(F.col(vec_col), F.col("probe_vec"))
            / (_norm(F.col(vec_col)) * _norm(F.col("probe_vec"))),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "rank", "vec_id", "cos_sim")
    )


def hyperplane_weight_py(plane: int, dim: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1) for (plane, dim):
    md5_60(plane || ':' || dim) / 2^59 - 1.  Pure function — identical from
    Python, Spark SQL, or DuckDB, so hyperplanes are reproducible on any
    cluster without shipping state."""
    import hashlib

    h = int(hashlib.md5(f"{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return h / (HASH60_MAX / 2.0) - 1.0


def _infer_dim(embeddings: DataFrame, vec_col: str) -> int:
    return int(embeddings.select(F.size(F.col(vec_col)).alias("d")).first()["d"])


def cosine_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    blocked: bool = False,
    num_planes: int = 6,
    num_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_a, vec_b, cos_sim): embedding-cosine near-duplicate pairs with
    cos >= threshold.

    ``blocked=False``: exact O(n²) self-join — the verification baseline
    (fine to a few 10^4 vectors).  ``blocked=True``: the scale path —
    candidates must share an LSH bucket in >=1 of L tables (equi-join per
    table, union, exact cosine re-check), the embedding analog of
    MinHash-LSH banding; recall < 1 by design at the threshold boundary.
    """
    from functools import reduce

    a = embeddings.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("vb"))
    if not blocked:
        cand = a.join(b, F.col("vec_a") < F.col("vec_b"))
    else:
        dim = _infer_dim(embeddings, vec_col)
        emb_b = embeddings.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            *[
                bucket_expr(vec_col, num_planes, t, dim).alias(f"bucket_{t}")
                for t in range(num_tables)
            ],
        )
        per_table = [
            emb_b.alias("x")
            .join(emb_b.alias("y"), F.expr(f"x.bucket_{t} = y.bucket_{t} AND x.__id < y.__id"))
            .select(
                F.col("x.__id").alias("vec_a"),
                F.col("x.__v").alias("va"),
                F.col("y.__id").alias("vec_b"),
                F.col("y.__v").alias("vb"),
            )
            for t in range(num_tables)
        ]
        cand = reduce(lambda p, q: p.unionByName(q), per_table).dropDuplicates(
            ["vec_a", "vec_b"]
        )
    sim = cand.select(
        "vec_a",
        "vec_b",
        F.round(_dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))), 6).alias(
            "cos_sim"
        ),
    )
    return sim.filter(F.col("cos_sim") >= threshold)


def bucket_expr(vec_col: str, num_planes: int, table_id: int, dim: int) -> Column:
    """Sign-pattern bucket id over num_planes hyperplanes as a pure column
    expression.  Hyperplane weights are materialized driver-side as plan
    literals (hashing per (plane, dim) pair once, not per row); the
    projection is a codegen'd array fold.  ``table_id`` offsets the
    hyperplane seed so independent hash tables come from one family."""
    base = table_id * num_planes
    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        w = F.array(*[F.lit(hyperplane_weight_py(base + p, d)) for d in range(dim)])
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), w, lambda x, wgt: x.cast("double") * wgt),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_bucket_topk(
    embeddings: DataFrame,
    probe_ids: list[int],
    k: int = 10,
    num_planes: int = 6,
    num_tables: int = 4,
    probe_radius: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(probe_id, rank, vec_id, cos_sim): approximate top-k.

    Standard (L, p) LSH: ``num_tables`` independent hash tables of
    ``num_planes`` hyperplanes each; candidates = union over tables of the
    probe's bucket plus all buckets within ``probe_radius`` bit flips
    (multi-probe), then exact cosine re-ranking.  Each table is one narrow
    map + one equi-join on (table, bucket); recall/cost tunes with
    (L, p, radius) exactly as on a real cluster.
    """
    from functools import reduce

    from pyspark.sql import Window

    # all tables' bucket columns in ONE narrow projection (no self-joins)
    dim = _infer_dim(embeddings, vec_col)
    emb_b = embeddings.select(
        "*",
        *[
            bucket_expr(vec_col, num_planes, t, dim).alias(f"bucket_{t}")
            for t in range(num_tables)
        ],
    )

    # multi-probe flip masks (tiny: C(planes, <=r))
    flips: list[int] = [0]
    for r in range(1, probe_radius + 1):
        for combo in combinations(range(num_planes), r):
            m = 0
            for bit in combo:
                m |= 1 << bit
            flips.append(m)
    flip_arr = F.array(*[F.lit(m).cast("long") for m in flips])

    probes = emb_b.filter(F.col(id_col).isin(probe_ids))
    per_table = []
    for t in range(num_tables):
        p_t = probes.select(
            F.col(id_col).alias("probe_id"),
            F.col(vec_col).alias("probe_vec"),
            F.explode(
                F.transform(flip_arr, lambda m: F.col(f"bucket_{t}").bitwiseXOR(m))
            ).alias(f"bucket_{t}"),
        )
        per_table.append(
            emb_b.join(F.broadcast(p_t), f"bucket_{t}")
            .filter(F.col(id_col) != F.col("probe_id"))
            .select("probe_id", "probe_vec", F.col(id_col).alias("__cand_id"), vec_col)
        )
    cand = reduce(lambda a, b: a.unionByName(b), per_table).dropDuplicates(
        ["probe_id", "__cand_id"]
    ).withColumnRenamed("__cand_id", id_col)
    sim = cand.select(
        "probe_id",
        F.col(id_col).alias("vec_id"),
        F.round(
            _dot(F.col(vec_col), F.col("probe_vec"))
            / (_norm(F.col(vec_col)) * _norm(F.col("probe_vec"))),
            6,
        ).alias("cos_sim"),
    ).dropDuplicates(["probe_id", "vec_id"])
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "rank", "vec_id", "cos_sim")
    )
