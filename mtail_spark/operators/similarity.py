"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the correctness baseline: broadcast the
(small) query set against the corpus — at 100 TB the corpus side never
shuffles; the plan is scan -> map-side cosine -> per-query top-k
(partial top-k map-side via AQE + window, or groupBy/min-heap).

The scale path is LSH bucketing (random-hyperplane signs) which prunes
the corpus to matching buckets before exact re-ranking; hyperplanes are
derived deterministically from md5 so the index is reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def cosine_fold_udf():
    """Vectorized-Arrow cosine kernel with LEFT-FOLD summation.

    numpy accumulates SEQUENTIALLY over dims (dot = dot + x*y, one dim
    at a time) but vectorized ACROSS rows — bit-identical per row to
    the F.aggregate left fold and the DuckDB list_reduce oracle, while
    doing ~dim numpy ops per Arrow batch instead of an interpreted
    lambda per row or a 3*dim-node Catalyst tree per expression (the
    unrolled element_at chain cost seconds of py4j construction and
    janino compilation; measured slower than the HOF it replaced)."""
    # no type annotations: postponed evaluation (future import) turns
    # them into strings pandas_udf can't resolve; SCALAR is the default
    def cos(a, b):
        import numpy as np
        import pandas as pd

        A = np.stack(a.to_numpy()).astype(np.float64)
        B = np.stack(b.to_numpy()).astype(np.float64)
        n = len(A)
        d = np.zeros(n)
        na = np.zeros(n)
        nb = np.zeros(n)
        for i in range(A.shape[1]):
            x, y = A[:, i], B[:, i]
            d = d + x * y
            na = na + x * x
            nb = nb + y * y
        den = np.sqrt(na) * np.sqrt(nb)
        # zero-norm vectors: the JVM expression this kernel replaced
        # produced NULL (div-by-zero), which sorts LAST under
        # ORDER BY DESC — numpy's 0/0 NaN would sort FIRST (Spark
        # orders NaN above every double), promoting degenerate
        # embeddings to top neighbor.  Preserve the NULL semantics.
        with np.errstate(divide="ignore", invalid="ignore"):
            out = d / den
        # pandas NaN marks missing for float64; pyarrow's from_pandas
        # conversion turns it into an Arrow null, which Spark reads
        # as SQL NULL (verified in tests/test_similarity.py)
        return pd.Series(out).mask(den == 0.0)

    return F.pandas_udf(cos, "double")


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Dot product of two array columns.

    With `dim` known at plan time the sum is UNROLLED into a
    left-associated chain of element_at multiply-adds: bit-identical
    to the F.aggregate left fold (and to the DuckDB oracle's
    list_reduce).  Without dim it uses the higher-order-function form.
    Hot paths should prefer cosine_fold_udf / knn_gemm — the unrolled
    tree is kept for literal-free plan contexts that must stay pure
    JVM."""
    if dim is not None:
        out = F.element_at(a, 1).cast("double") * F.element_at(b, 1).cast(
            "double"
        )
        for i in range(2, dim + 1):
            out = out + F.element_at(a, i).cast("double") * F.element_at(
                b, i
            ).cast("double")
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column, dim: int | None = None) -> Column:
    if dim is not None:
        return F.sqrt(dot(a, a, dim))
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


# Literal-weight kernels are built as ONE SQL string handed to F.expr:
# building them as Column arithmetic costs 2-3 py4j round-trips per
# term (seconds of driver time at dim=64), while parsing a 6 KB
# expression server-side is milliseconds.  Double literals go through
# CAST('<repr>' AS DOUBLE) because bare decimal literals parse as
# DECIMAL in Spark SQL; the cast constant-folds at plan time, and
# repr round-trips exactly, so the runtime literal is bit-identical
# to F.lit(w).  '+' parses left-associative — the same left-fold
# order as the HOF form and the DuckDB oracle.


def _dlit(w: float) -> str:
    return f"CAST('{w!r}' AS DOUBLE)"


def _sql_dot_lits(vec: str, weights: list[float]) -> str:
    return "(" + " + ".join(
        f"(CAST(element_at({vec}, {i}) AS DOUBLE) * {_dlit(w)})"
        for i, w in enumerate(weights, start=1)
    ) + ")"


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan shape: broadcast(queries) x corpus -> window top-k.  Ties are
    broken by neighbor id for determinism.  With `dim` set, the cosine
    runs through the Arrow-vectorized left-fold kernel
    (cosine_fold_udf) — same bits as the HOF fold, ~dim numpy ops per
    batch; without it, the JVM higher-order-function form.
    """
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cvec")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    if dim is not None:
        kernel = cosine_fold_udf()
        sim = kernel(F.col("qvec"), F.col("cvec"))
    else:
        c = c.withColumn("cvec", as_double(F.col("cvec")))
        q = q.withColumn("qvec", as_double(F.col("qvec")))
        sim = cosine(F.col("qvec"), F.col("cvec"), None)
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "corpus_id",
        sim.alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rank")
    )


def knn_gemm(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    round_digits: int = 9,
) -> DataFrame:
    """Exact top-k cosine neighbors via a blocked GEMM — the scale
    path for bulk numeric kernels.

    Shape: the (small) query matrix is captured into a mapInPandas
    closure; each corpus partition computes an Arrow-batched
    (batch x nq) similarity matrix with BLAS and emits only its local
    top-k per query; a final store-sized window picks the global
    top-k.  The corpus never shuffles and Python sees each corpus row
    once.

    BLAS summation order differs from a sequential fold in the last
    ulp, so similarities are ROUNDED to `round_digits` before ranking
    and output — rank and hash then agree with any engine computing
    the same rounded cosine (ties broken by corpus id)."""
    import numpy as np  # noqa: F401  (validated here, used in closure)

    q_rows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    qids_l = [int(r["qid"]) for r in q_rows]
    qmat_l = [list(r["qv"]) for r in q_rows]

    def gen(batches):
        import numpy as np
        import pandas as pd

        qids = np.asarray(qids_l, dtype=np.int64)
        Q = np.asarray(qmat_l, dtype=np.float64)
        Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["cv"].to_numpy()).astype(np.float64)
            ids = pdf["cid"].to_numpy().astype(np.int64)
            Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
            sims = np.round(Cn @ Qn.T, round_digits)  # nb x nq
            nb = sims.shape[0]
            kk = min(k, nb)
            out_q, out_c, out_s = [], [], []
            for j in range(len(qids)):
                col = sims[:, j]
                if nb > kk:
                    # keep the ENTIRE boundary tie group, not an
                    # arbitrary argpartition pick among equal values:
                    # two exactly-tied rows straddling the local-k
                    # cutoff would otherwise drop the lower id here,
                    # and the global id-ascending tie-break can't
                    # recover a row the kernel never emitted
                    part = np.argpartition(-col, kk - 1)
                    kth = col[part[kk - 1]]
                    idx = np.nonzero(col >= kth)[0]
                else:
                    idx = np.arange(nb)
                order = np.lexsort((ids[idx], -col[idx]))
                sel = idx[order][:kk]
                out_q.append(np.full(len(sel), qids[j]))
                out_c.append(ids[sel])
                out_s.append(col[sel])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "corpus_id": np.concatenate(out_c),
                    "cos_sim": np.concatenate(out_s),
                }
            )

    cand = corpus.select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cv")
    ).mapInPandas(
        gen, schema="query_id long, corpus_id long, cos_sim double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rank")
    )


def make_planes(n_planes: int, dim: int, salt: str = "") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, d) is an
    md5-derived value in [-1, 1).  Computed at compile time so the
    planes are plain literals in the physical plan (and reproducible
    anywhere, including in oracle SQL).  `salt` derives an independent
    plane family per LSH table (knn_lsh_multi); the default ""
    reproduces the original single-table planes exactly."""
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = int(
                hashlib.md5(f"{salt}{p}:{d}".encode()).hexdigest()[:15], 16
            )
            row.append((h % 2000001) / 1000000.0 - 1.0)
        planes.append(row)
    return planes


def hyperplane_signature(vec: str, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH signature of an array column (by NAME) as
    an n_planes-bit integer: bit p is set when dot(vec, plane_p) > 0.
    One F.expr of literal dots — codegen arithmetic, same fold order
    as the HOF form."""
    bits = " + ".join(
        f"IF({_sql_dot_lits(vec, plane)} > CAST(0 AS DOUBLE), "
        f"CAST({2 ** p} AS BIGINT), CAST(0 AS BIGINT))"
        for p, plane in enumerate(planes)
    )
    return F.expr(f"({bits})")


# Members per summation block in the deterministic k-means update:
# bounds every collect_list to <= KMEANS_BLOCK entries.
KMEANS_BLOCK = 256


def kmeans_centroids(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 5,
    dim: int = 64,
) -> list[list[float]]:
    """BIT-deterministic Lloyd's k-means (driver-side centroids,
    exact assignment in Spark): seeds are the first k vectors by id;
    each iteration assigns with the stable-argmin kernel and updates
    centroids through a FIXED two-level summation tree — per
    (cluster, dim) the member values fold left in id order within
    id-range blocks of KMEANS_BLOCK, then the block partials fold
    left in block order.  The result is independent of partitioning
    and shuffle order (a plain F.sum is not: float addition is
    non-associative), which is what lets the trained quantizer be
    reproduced bit-for-bit by the unrolled DuckDB oracle
    (__spark_entry__._sql_ivf_trained).

    At 100 TB: k centroids broadcast each iteration; the shuffle
    carries (cluster, dim, block) partials whose count is rows/256
    per dim — a depth-2 tree, deepened the same way (another block
    level) if block counts ever outgrew a collect_list."""
    c = corpus.select(
        F.col(id_col).alias("cid"), as_double(F.col(vec_col)).alias("vec")
    )
    seeds = c.orderBy("cid").limit(k).collect()
    centroids = [list(r["vec"]) for r in seeds]
    for _ in range(iters):
        assigned = c.withColumn(
            "cluster", nearest_centroid_udf(centroids)(F.col("vec"))
        )
        blk = (
            assigned.select(
                "cluster", "cid", F.posexplode("vec").alias("d", "x")
            )
            .withColumn(
                "b", F.floor(F.col("cid") / F.lit(KMEANS_BLOCK))
            )
            .groupBy("cluster", "d", "b")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("cid", "x"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["x"],
                ).alias("bs"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        sums = (
            blk.groupBy("cluster", "d")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("b", "bs"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["bs"],
                ).alias("sx"),
                F.sum("n").alias("n"),
            )
            .collect()
        )
        acc: dict[int, list] = {}
        counts: dict[int, int] = {}
        for r in sums:
            acc.setdefault(r["cluster"], [0.0] * dim)[r["d"]] = r["sx"]
            counts[r["cluster"]] = r["n"]
        for ci in range(len(centroids)):
            if ci in acc and counts.get(ci):
                centroids[ci] = [v / counts[ci] for v in acc[ci]]
    return centroids


def _sqdist_matrix(A, C):
    """(n, dim) x (k, dim) -> (n, k) squared distances, accumulated
    SEQUENTIALLY over dims: per (row, centroid) the adds happen in the
    same left-fold order as the literal SQL form and the DuckDB
    oracle, so argmin choices are bit-identical."""
    import numpy as np

    acc = np.zeros((A.shape[0], C.shape[0]))
    for i in range(A.shape[1]):
        diff = A[:, i][:, None] - C[None, :, i]
        acc = acc + diff * diff
    return acc


def nearest_centroid_udf(centroids: list[list[float]]):
    """Arrow-batched first-occurrence argmin over centroid distances —
    np.argmin keeps the earliest index on ties, the same choice as a
    strictly-less scan and the oracle's list_position(dl,
    list_min(dl)).  (A Catalyst-literal unrolled form was tried first:
    k*dim*8 expression nodes cost seconds of analysis + janino per
    run.)"""
    cents = [list(c) for c in centroids]

    def assign(v):
        import numpy as np
        import pandas as pd

        A = np.stack(v.to_numpy()).astype(np.float64)
        C = np.asarray(cents, dtype=np.float64)
        return pd.Series(
            np.argmin(_sqdist_matrix(A, C), axis=1).astype(np.int32)
        )

    return F.pandas_udf(assign, "int")


def probe_lists_udf(centroids: list[list[float]], n_probe: int):
    """Arrow-batched n_probe nearest list ids, ordered by (distance,
    index) — stable argsort breaks ties toward the lower index, same
    as array_sort over (d, i) structs."""
    cents = [list(c) for c in centroids]

    def probe(v):
        import numpy as np
        import pandas as pd

        A = np.stack(v.to_numpy()).astype(np.float64)
        C = np.asarray(cents, dtype=np.float64)
        d = _sqdist_matrix(A, C)
        idx = np.argsort(d, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([row.astype(np.int32) for row in idx])

    return F.pandas_udf(probe, "array<int>")


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 2,
    iters: int = 3,
    dim: int = 64,
) -> DataFrame:
    """IVF approximate top-k: k-means coarse quantizer partitions the
    corpus into inverted lists; each query exactly re-ranks only its
    n_probe nearest lists.  At scale the list id becomes the corpus
    partitioning key, so a probe touches n_probe/n_lists of the data."""
    cents = kmeans_centroids(corpus, n_lists, id_col, vec_col, iters, dim)
    return _ivf_rerank(corpus, queries, cents, id_col, vec_col, k, n_probe, dim)


def make_centroids(n_lists: int, dim: int) -> list[list[float]]:
    """Deterministic md5-derived centroids in [-1, 1): a FIXED coarse
    quantizer whose cells are plan-time literals, reproducible in
    oracle SQL (same scheme as make_planes).  Trades recall for a
    fully deterministic, engine-independent index — the hash-matchable
    counterpart of knn_ivf's trained quantizer."""
    import hashlib

    cents = []
    for c in range(n_lists):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"ivf:{c}:{d}".encode()).hexdigest()[:15], 16)
            row.append((h % 2000001) / 1000000.0 - 1.0)
        cents.append(row)
    return cents


def knn_ivf_fixed(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 2,
    dim: int = 64,
) -> DataFrame:
    """IVF top-k over a fixed (deterministic-literal) coarse
    quantizer — same probe/re-rank plan as knn_ivf but with no
    training iterations, so the whole query is one declarative plan
    with a DuckDB-expressible oracle."""
    cents = make_centroids(n_lists, dim)
    return _ivf_rerank(corpus, queries, cents, id_col, vec_col, k, n_probe, dim)


def _ivf_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
    dim: int,
) -> DataFrame:
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), as_double(F.col(vec_col)).alias("cvec")
    ).withColumn("list_id", nearest_centroid_udf(cents)(F.col("cvec")))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qvec")
    )
    # per-query probe lists, computed driver-free with the centroid
    # matrix captured in the kernel closure
    probes = q.select(
        "query_id", "qvec",
        F.explode(
            probe_lists_udf(cents, n_probe)(F.col("qvec"))
        ).alias("list_id"),
    )
    scored = c.join(F.broadcast(probes), "list_id").select(
        "query_id", "corpus_id",
        cosine_fold_udf()(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rank")
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: restrict the exact search to corpus vectors
    sharing the query's hyperplane-sign bucket.  Recall is tuned by
    n_planes (fewer planes = bigger buckets = higher recall/cost).

    At scale the bucket column becomes a partition/bucketing key so the
    join is co-located; here it is a plain equi-join (shuffle on
    uniformly distributed bucket ids).
    """
    planes = make_planes(n_planes, dim)
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), as_double(F.col(vec_col)).alias("cvec")
    ).withColumn("bucket", hyperplane_signature("cvec", planes))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qvec")
    ).withColumn("bucket", hyperplane_signature("qvec", planes))
    scored = c.join(F.broadcast(q), "bucket").select(
        "query_id",
        "corpus_id",
        cosine_fold_udf()(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rank")
    )


def hyperplane_sigs_udf(fams: list[list[list[float]]]):
    """Arrow-batched MULTI-TABLE hyperplane signatures: one kernel
    call computes every table's bucket id for a batch of vectors,
    returning array<bigint> (one signature per table).

    Exists because the literal-expression form (hyperplane_signature)
    costs codegen COMPILATION proportional to tables x planes x dim —
    at 4x4x64 the generated class is megabytes and Janino compilation
    dominates wall time on small inputs (measured: a 2000-vector
    fan-out count spent ~4.5 s almost entirely in plan/compile).  The
    kernel accumulates dims SEQUENTIALLY (acc = acc + v[i]*w[i],
    ascending i — the same left-fold order as _sql_dot_lits' literal
    `+` chain), so every sign bit and therefore every bucket id is
    bit-identical to the expression form and the DuckDB oracle;
    tests/test_operators.py pins UDF == expression equality."""
    fams_l = [[list(p) for p in fam] for fam in fams]

    def sig(v):
        import numpy as np
        import pandas as pd

        A = np.stack(v.to_numpy()).astype(np.float64)
        n = A.shape[0]
        out = np.zeros((n, len(fams_l)), dtype=np.int64)
        for t, fam in enumerate(fams_l):
            for p, plane in enumerate(fam):
                acc = np.zeros(n)
                for i, w in enumerate(plane):
                    acc = acc + A[:, i] * w
                out[:, t] += (acc > 0).astype(np.int64) << p
        return pd.Series(list(out))

    return F.pandas_udf(sig, "array<bigint>")


def knn_lsh_multi(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Multi-table LSH — the standard OR-amplification that fixes
    single-table recall: `n_tables` independent plane families hash
    every vector into `n_tables` buckets, candidates are the UNION of
    same-(table, bucket) pairs, and only the deduplicated candidates
    get exact-cosine scored.  A true neighbor is missed only if it
    disagrees with the query in EVERY table: miss probability decays
    as (1 - p^b)^L, so recall climbs with tables while the per-table
    bucket width (2^n_planes) keeps each candidate set small
    (measured on the sf0.01 embeddings: 0.1 recall@10 single-table at
    4 planes -> see tests/test_similarity_recall.py for the
    multi-table floor).

    Plan shape at 100 TB: ONE corpus scan computes all table
    signatures in a single projection and posexplode_outer fans out
    (corpus_id, t, bucket) — no vector bytes through the fan-out, no
    per-table rescan; the candidate join keys on (t, bucket) (at rest
    this is the stored L-column index, bucketed for co-location); the
    rerank fetches raw vectors via a broadcast candidate join, the
    knn_pq_rerank discipline."""
    fams = [
        make_planes(n_planes, dim, salt=f"lsh{t}:") for t in range(n_tables)
    ]
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        as_double(F.col(vec_col)).alias("cvec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qvec"),
    )

    sig_kernel = hyperplane_sigs_udf(fams)

    def fan(df, idcol, vec):
        return df.select(
            idcol,
            F.posexplode_outer(sig_kernel(F.col(vec))).alias(
                "t", "bucket"
            ),
        )

    cand = (
        fan(c, "corpus_id", "cvec")
        .join(F.broadcast(fan(q, "query_id", "qvec")), ["t", "bucket"])
        .select("query_id", "corpus_id")
        .distinct()
    )
    scored = (
        c.join(F.broadcast(cand), "corpus_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "corpus_id",
            cosine_fold_udf()(F.col("qvec"), F.col("cvec")).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rank")
    )


def cosine_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.3,
    n_planes: int = 4,
    dim: int = 64,
    n_tables: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS: candidates restricted to
    vectors sharing a hyperplane bucket in at least one of `n_tables`
    independent plane families (never all-pairs — the (table, bucket)
    pair is the partition key at scale), deduplicated, then verified
    with the exact left-fold cosine kernel.  Returns
    (id_a, id_b, cos_sim) with id_a < id_b, cos_sim >= threshold.

    Per-table collision probability for a pair at angle theta is
    p = (1 - theta/pi)^n_planes; across tables recall is
    1 - (1-p)^n_tables — the same OR-amplification as knn_lsh_multi.
    Measured on the sf0.01 embeddings at threshold 0.3 (pairs up to
    cos ~0.51 only — isotropic corpus): recall 0.16 single-table ->
    see tests/test_similarity_recall.py for the multi-table floors.
    n_tables=1 reproduces the original single-family buckets exactly.

    Scale shape: ONE scan computes all table signatures; the
    posexplode fan-out carries (id, t, bucket) plus the vector ONCE
    per table for the in-bucket verify — at 100 TB prefer writing the
    (t, bucket) index columns and bucketing the table by them, then
    the self-join is co-located and vectors never reshuffle."""
    fams = [
        make_planes(n_planes, dim, salt=("" if t == 0 else f"lsh{t}:"))
        for t in range(n_tables)
    ]
    base = df.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    )
    fanned = base.select(
        "vid",
        "v",
        F.posexplode_outer(hyperplane_sigs_udf(fams)(F.col("v"))).alias(
            "t", "bucket"
        ),
    )
    l, r = fanned.alias("l"), fanned.alias("r")
    kern = cosine_fold_udf()
    pairs = (
        l.join(
            r,
            (F.col("l.t") == F.col("r.t"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vid") < F.col("r.vid")),
        )
        .select(
            F.col("l.vid").alias("id_a"),
            F.col("r.vid").alias("id_b"),
            F.col("l.v").alias("va"),
            F.col("r.v").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return pairs.select(
        "id_a",
        "id_b",
        kern(F.col("va"), F.col("vb")).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


def assign_with_dist_udf(centroids: list[list[float]]):
    """Arrow-batched (cluster, squared-distance) assignment: the same
    stable argmin as nearest_centroid_udf plus the distance to the
    chosen centroid, taken from the same sequentially-accumulated
    matrix so the double is bit-identical to the oracle's
    list_min(dl)."""
    cents = [list(c) for c in centroids]

    def assign(v):
        import numpy as np
        import pandas as pd

        A = np.stack(v.to_numpy()).astype(np.float64)
        C = np.asarray(cents, dtype=np.float64)
        D = _sqdist_matrix(A, C)
        arg = np.argmin(D, axis=1)
        return pd.DataFrame(
            {
                "cluster": arg.astype(np.int32),
                "sqd": D[np.arange(D.shape[0]), arg],
            }
        )

    return F.pandas_udf(assign, "cluster int, sqd double")


def cluster_profile(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Document clustering as a first-class output: k-means cluster
    sizes, representative (minimum-id) member, and total
    within-cluster squared distance — the corpus-structure profile
    behind cluster-balanced sampling and SemDeDup-style curation.

    Reuses the bit-deterministic kmeans_centroids kernel, so the whole
    table is reproducible by the unrolled DuckDB oracle.  Distances
    are fixed-point micro-units rounded PER MEMBER before the integer
    sum (order-independent; a float sum would vary with shuffle
    order).

    At 100 TB: centroids are k*dim driver-side floats; assignment is
    one Arrow-batched map over the corpus; the profile is one
    aggregation keyed on cluster (k groups, map-side combined) — no
    self-join, nothing corpus-sized on the driver."""
    cents = kmeans_centroids(
        corpus, k=k, id_col=id_col, vec_col=vec_col, iters=iters, dim=dim
    )
    base = corpus.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("a", assign_with_dist_udf(cents)(F.col("v")))
    per = base.select(
        "vid",
        F.col("a.cluster").alias("cluster"),
        F.round(F.col("a.sqd") * 1_000_000).cast("long").alias("sqd_micro"),
    )
    return (
        per.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vid").alias("min_member"),
            F.sum("sqd_micro").cast("long").alias("sum_sqd_micro"),
        )
        .select(
            F.col("cluster").cast("int").alias("cluster"),
            "n_members",
            "min_member",
            "sum_sqd_micro",
        )
    )


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.35,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means
    cluster the embedding space, compare cosine similarity only
    WITHIN clusters, and drop every vector that is >= threshold
    similar to a lower-id vector in its cluster.  Returns
    (id_col, cluster, keep) — one row per input vector.

    The keep rule is the parallel one-pass variant (drop if similar
    to ANY lower-id cluster-mate, not just to surviving keepers):
    fully expressible as one self-join, no sequential greedy chain,
    and the common choice in distributed curation pipelines.  The
    trained quantizer reuses the bit-deterministic kmeans_centroids
    kernel, so the whole decision table is reproducible by the
    unrolled DuckDB oracle.

    At 100 TB: centroids are k*dim driver-side floats; assignment is
    one Arrow-batched map; the only shuffle is the self-join keyed on
    cluster.  Clusters at that scale must be sized (k grows with N,
    SemDeDup uses ~100k clusters for LAION) so each cluster's
    pairwise pass stays executor-local — k is the knob, and a skewed
    giant cluster is AQE-split."""
    cents = kmeans_centroids(
        corpus, k=k, id_col=id_col, vec_col=vec_col, iters=iters, dim=dim
    )
    base = (
        corpus.select(
            F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
        )
        .withColumn("cluster", nearest_centroid_udf(cents)(F.col("v")))
    )
    kern = cosine_fold_udf()
    l, r = base.alias("l"), base.alias("r")
    dropped = (
        l.join(
            r,
            (F.col("l.cluster") == F.col("r.cluster"))
            & (F.col("l.vid") < F.col("r.vid")),
        )
        .filter(kern(F.col("l.v"), F.col("r.v")) >= threshold)
        .select(F.col("r.vid").alias("dvid"))
        .distinct()
    )
    return base.join(
        dropped, base["vid"] == dropped["dvid"], "left"
    ).select(
        F.col("vid").alias(id_col),
        F.col("cluster").cast("int").alias("cluster"),
        F.col("dvid").isNull().alias("keep"),
    )


# ------------------------------------------------------ product quantization

PQ_M = 8       # subspaces
PQ_KSUB = 16   # codes per subspace (4-bit)


def make_pq_codebooks(
    m_sub: int = PQ_M, ksub: int = PQ_KSUB, dim: int = 64
) -> list[list[list[float]]]:
    """Deterministic md5-derived PQ codebooks in [-1, 1):
    codebooks[m][c] is the ksub-way codebook of subspace m over dims
    [m*dsub, (m+1)*dsub).  Fixed literals for the same reason as
    make_centroids: the quantizer is reproducible in oracle SQL, so
    "approximate" means a deterministic bounded-error ESTIMATE.  (A
    trained variant would run kmeans_centroids per subspace — same
    chain-unrollable recipe as knn_ivf.)"""
    import hashlib

    # trailing dims would be SILENTLY dropped from every distance
    # otherwise — wrong neighbors with no error (and the oracle would
    # mirror the truncation, so parity could not catch it)
    assert dim % m_sub == 0, f"dim {dim} not divisible by m_sub {m_sub}"
    dsub = dim // m_sub
    books = []
    for m in range(m_sub):
        book = []
        for c in range(ksub):
            row = []
            for d in range(dsub):
                h = int(
                    hashlib.md5(f"pq:{m}:{c}:{d}".encode()).hexdigest()[:15],
                    16,
                )
                row.append((h % 2000001) / 1000000.0 - 1.0)
            book.append(row)
        books.append(book)
    return books


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_sub: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
    iters: int = 10,
    n_train: int = 65_536,
) -> list[list[list[float]]]:
    """TRAINED PQ codebooks — per-subspace Lloyd's k-means over a
    bounded, deterministic training sample.  Same return shape as
    make_pq_codebooks, so the books drop into knn_pq / knn_pq_rerank
    unchanged; training lifts ADC recall massively over the fixed
    md5 books (measured in tests/test_similarity_recall.py: recall@10
    0.45 vs 0.065 ADC-only, 0.98 vs 0.25 with exact rerank, on the
    sf0.01 embeddings).

    The 100 TB design is the standard production PQ recipe (FAISS
    trains IVF/PQ on 1e5-1e6 sampled vectors regardless of corpus
    size): the TRAINING sample is driver-sized by construction —
    the first `n_train` vectors by id (deterministic; at scale pass a
    hash-sampled subset if the id order correlates with content) —
    and only that sample leaves the cluster.  ENCODING the corpus
    stays fully distributed (pq_encode_udf, Arrow-batched).  Each
    subspace trains independently on its dsub-wide slice; k-means is
    bit-deterministic: first-ksub-rows init, first-occurrence argmin
    (np.argmin tie rule), fixed iteration count, float64, sequential
    per-dim accumulation (_sqdist_matrix) — rerunning on the same
    sample reproduces the books exactly."""
    import numpy as np

    assert dim % m_sub == 0, f"dim {dim} not divisible by m_sub {m_sub}"
    dsub = dim // m_sub
    sample = (
        corpus.select(
            F.col(id_col).alias("cid"),
            as_double(F.col(vec_col)).alias("vec"),
        )
        .orderBy("cid")
        .limit(n_train)
        .collect()
    )
    A = np.array([list(r["vec"]) for r in sample], dtype=np.float64)
    if A.shape[0] < ksub:
        raise ValueError(
            f"PQ training needs >= {ksub} vectors, got {A.shape[0]}"
        )
    books = []
    for m in range(m_sub):
        X = A[:, m * dsub:(m + 1) * dsub]
        cent = X[:ksub].copy()
        for _ in range(iters):
            assign = np.argmin(_sqdist_matrix(X, cent), axis=1)
            for j in range(ksub):
                mask = assign == j
                if mask.any():
                    # id-order mean: rows are already sorted by cid
                    cent[j] = X[mask].mean(axis=0)
        books.append([[float(v) for v in c] for c in cent])
    return books


def pq_encode_udf(books: list[list[list[float]]]):
    """Arrow-batched PQ encoder: per subspace, first-occurrence argmin
    over the subspace codebook (the _sqdist_matrix sequential-dim
    accumulation keeps distances bit-identical to the oracle's literal
    sums).  Returns array<int> of m_sub codes per vector."""
    bks = [[list(c) for c in b] for b in books]
    dsub = len(bks[0][0])

    def enc(v):
        import numpy as np
        import pandas as pd

        A = np.stack(v.to_numpy()).astype(np.float64)
        out = np.zeros((A.shape[0], len(bks)), dtype=np.int32)
        for m, book in enumerate(bks):
            C = np.asarray(book, dtype=np.float64)
            sub = A[:, m * dsub:(m + 1) * dsub]
            out[:, m] = np.argmin(_sqdist_matrix(sub, C), axis=1)
        return pd.Series(list(out))

    return F.pandas_udf(enc, "array<int>")


def pq_dtable_udf(books: list[list[list[float]]]):
    """Arrow-batched ADC distance tables: for each query vector, the
    flat m-major array dtable[m*ksub + c] = sqdist(q_sub_m, books[m][c])
    — m_sub*ksub doubles per query, broadcast-sized by construction."""
    bks = [[list(c) for c in b] for b in books]
    ksub = len(bks[0])
    dsub = len(bks[0][0])

    def dt(v):
        import numpy as np
        import pandas as pd

        A = np.stack(v.to_numpy()).astype(np.float64)
        out = np.zeros((A.shape[0], len(bks) * ksub), dtype=np.float64)
        for m, book in enumerate(bks):
            C = np.asarray(book, dtype=np.float64)
            sub = A[:, m * dsub:(m + 1) * dsub]
            out[:, m * ksub:(m + 1) * ksub] = _sqdist_matrix(sub, C)
        return pd.Series(list(out))

    return F.pandas_udf(dt, "array<double>")


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m_sub: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou et al. 2011): the corpus is encoded ONCE to m_sub small
    codes per vector (here 8 x 4-bit — a 32x reduction vs float32
    dims), each query broadcasts its ksub*m_sub-entry distance table,
    and the scan scores a row by summing m_sub table lookups — the
    raw corpus vectors are never touched at query time.

    THE 100 TB shape: the codes column is the precomputed compact
    index (write it next to the embeddings and this query never reads
    them); the per-query state is the broadcast dtable; the scan is
    memory-bound over 8-byte codes with a TakeOrderedAndProject
    top-k.  The ADC sum left-folds over subspaces in index order, so
    the DuckDB oracle reproduces every distance bit-for-bit.

    ``books`` defaults to the fixed md5 codebooks (the hash-pinned
    oracle shape); pass train_pq_codebooks(...) output for the
    production-quality quantizer (recall gates in
    tests/test_similarity_recall.py)."""
    if books is None:
        books = make_pq_codebooks(m_sub, ksub, dim)
    assert len(books) == m_sub and len(books[0]) == ksub
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        as_double(F.col(vec_col)).alias("cvec"),
    )
    codes = c.select(
        "corpus_id", pq_encode_udf(books)(F.col("cvec")).alias("codes")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qvec"),
    )
    qd = q.select(
        "query_id", pq_dtable_udf(books)(F.col("qvec")).alias("dtable")
    )
    adc = F.expr(
        f"aggregate(sequence(0, {m_sub - 1}), 0D, (acc, m) -> "
        f"acc + element_at(dtable, m * {ksub} + "
        f"element_at(codes, m + 1) + 1))"
    )
    scored = codes.crossJoin(F.broadcast(qd)).select(
        "query_id", "corpus_id", adc.alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "adc_dist", "rank")
    )


def knn_pq_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    shortlist: int = 10,
    m_sub: int = PQ_M,
    ksub: int = PQ_KSUB,
    dim: int = 64,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """The production two-stage ANN: PQ ADC over the compact codes
    shortlists `shortlist` candidates per query, then ONLY those
    pairs are re-scored with exact cosine over the raw vectors — the
    memory-bound code scan does the winnowing, the float vectors are
    fetched for shortlist*n_queries rows total.  Same output schema
    as the other knn_* operators (query_id, corpus_id, cos_sim,
    rank).

    At 100 TB the candidate fetch is a broadcast-semi-join into the
    vector table (shortlist-sized build side), never a second corpus
    scan shape: the plan below shows the corpus joined against the
    BROADCAST candidate list."""
    cand = knn_pq(
        corpus, queries, id_col, vec_col, shortlist, m_sub, ksub, dim,
        books=books,
    ).select("query_id", "corpus_id")
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        as_double(F.col(vec_col)).alias("cvec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qvec"),
    )
    fetched = c.join(F.broadcast(cand), "corpus_id").join(
        F.broadcast(q), "query_id"
    )
    scored = fetched.select(
        "query_id",
        "corpus_id",
        cosine_fold_udf()(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cos_sim", "rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the k NEAREST corpus vectors with a DIFFERENT label — the
    highest-similarity wrong-class examples, which is exactly what a
    contrastive/triplet objective wants in its negative slots
    (easy negatives are uninformative; same-label neighbors are
    positives, excluded by the filter).

    Returns (query_id, query_label, corpus_id, neg_label, cos_sim,
    rank).  The label-mismatch predicate is applied BEFORE the top-k
    window, so rank counts negatives only.

    Plan: broadcast(queries) x corpus with the filter fused into the
    join stage, per-query top-k via WindowGroupLimit.  At 100 TB the
    winnow belongs on the compact path first — run knn_pq for a
    label-blind shortlist sized k + expected-positive-count, then
    filter and exact-rerank (the sim_pq_rerank composition); this
    exact form is the oracle-checkable reference."""
    kern = cosine_fold_udf()
    # the mismatch FILTER compares RAW label values (like the oracle's
    # `q.label <> c.label`); only the OUTPUT columns cast to long.  A
    # cast-then-compare would silently exclude labels that don't cast
    # (cast yields NULL, NULL != x is NULL) where the oracle keeps them.
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(label_col).alias("_neg_label_raw"),
        as_double(F.col(vec_col)).alias("cvec"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("_query_label_raw"),
        as_double(F.col(vec_col)).alias("qvec"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("_neg_label_raw") != F.col("_query_label_raw"))
        .select(
            "query_id",
            F.col("_query_label_raw").cast("long").alias("query_label"),
            "corpus_id",
            F.col("_neg_label_raw").cast("long").alias("neg_label"),
            kern(F.col("qvec"), F.col("cvec")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
