"""Engine-exact (oracle-replayable) ANN: IVF, IVF-PQ, hyperplane LSH,
the IVF k-NN graph and SemDeDup — the engine's one ANN stack, serving
every registered query and the streaming index maintainers
(streaming/annindex.py, streaming/semdedup.py).

The index structures (coarse IVF partitions; product-quantization
codebooks + asymmetric-distance scoring + exact refine — Jégou et al.,
TPAMI 2011) run under the repo's exact-arithmetic contract so a DuckDB
oracle replays EVERY step bit-for-bit and the ANN queries sit under the
strict hash gate:

- vectors normalize elementwise (x / greatest(sqrt(dot(e,e)), 1e-12))
  and every dot product is the sequential fold that matches DuckDB's
  ``list_dot_product`` evaluation order (the k-center/MMR contract);
- Lloyd init is the first k vectors in md5(id || salt) order — no RNG;
- per-iteration centroid means use DECIMAL(12,9) sums of 9-dp-rounded
  components (exact, order-independent — partition layout cannot move
  a centroid), divided and re-rounded with the engines' shared ROUND;
- cluster assignment is argmax-of-dots with first-index tie-break,
  identical to a (dot DESC, cluster) row_number in SQL;
- PQ sub-quantizer distances use the fixed expression
  dot(x,x) - 2*dot(x,c) + dot(c,c); ADC scores are order-independent
  DECIMAL(16,12) sums of per-subspace 12-dp-rounded LUT terms.

Scale: assignment/probing/scoring run as narrow JVM expressions over
broadcast-as-literal centroids (no Python in the hot path — higher-
order-function folds are interpreted but stay executor-side and
shuffle-free); the per-iteration fit is one posexplode aggregation
whose map-side combine shrinks the shuffle to n_clusters x dim partial
sums, with the driver holding only the k x dim centroid matrix. The
search itself keeps the IVF contract: score only the probed clusters'
members (a broadcast join on cluster id), rank, refine.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .similarity import as_double, dot_cols, l2_norm


def _unit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    dim: int = 64,
    materialize: bool = False,
    kernel: str | None = None,
) -> DataFrame:
    """(out_id, _u) with _u the elementwise-normalized double vector.
    The norm dot unrolls (codegen'd); the division stays a ONE-node
    transform lambda on purpose — Catalyst's CollapseProject inlines
    projected columns into every consumer expression, and an unrolled
    64-element array each dragging the 129-node norm chain would blow
    the downstream assignment trees (16 dots x 64 terms, each term
    inlining the array) into millions of nodes: driver OOM, janino
    overflow. Tree SIZE is part of the design here, not just values.

    ``materialize=True`` eagerly localCheckpoints the result — REQUIRED
    before stacking the unrolled dot expressions on top, so they
    reference a plain column of a LogicalRDD instead of inlining the
    normalization subtree into all dim x n_clusters terms. (For the
    100 TB one-shot path this is the usual normalize-once cache; the
    persisted-index path materializes to parquet instead.)

    ``kernel`` (r13): "sql" = the expression form above; "numpy" = the
    Arrow-batched per-dim fold (the _exact_fold_gram family — the same
    left-fold sequence vectorized ACROSS rows, so every double is
    bit-identical; pinned in tests/test_emb768.py). None picks by the
    dot policy boundary: above DOT_UNROLL_MAX_DIM the SQL fold runs
    interpreted at ~3.7 us/element (measured dim-768, PROFILE_r13) and
    the numpy kernel is ~20x faster; at narrow dims the codegen'd SQL
    form wins and keeps the plan JVM-pure."""
    from .similarity import DOT_UNROLL_MAX_DIM

    if kernel is None:
        kernel = "numpy" if dim > DOT_UNROLL_MAX_DIM else "sql"
    raw = df.select(
        F.col(id_col).alias(out_id), as_double(F.col(vec_col)).alias("_e")
    )
    if kernel == "numpy":
        id_type = raw.schema[out_id].dataType.simpleString()

        def norm_batches(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                if len(pdf) == 0:
                    continue
                # NULL embeddings pass through as NULL _u, matching the
                # SQL form (transform(NULL, ...) is NULL)
                mask = pdf["_e"].notna().to_numpy()
                us: list = [None] * len(pdf)
                if mask.any():
                    X = np.stack(
                        [
                            np.asarray(v, dtype=np.float64)
                            for v in pdf["_e"][mask]
                        ]
                    )
                    n = np.maximum(_fold_norms(X), 1e-12)
                    U = X / n[:, None]
                    for slot, u in zip(np.nonzero(mask)[0], U):
                        us[slot] = u
                yield pd.DataFrame(
                    {out_id: pdf[out_id].values, "_u": us}
                )

        out = raw.mapInPandas(
            norm_batches, f"{out_id} {id_type}, _u array<double>"
        )
    else:
        e = F.col("_e")
        out = (
            raw.withColumn(
                "_n", F.greatest(F.sqrt(dot_cols(e, e, dim)), F.lit(1e-12))
            )
            .select(
                out_id,
                F.transform("_e", lambda x: x / F.col("_n")).alias("_u"),
            )
        )
    # lazy (r15): the caller's first action (fit collect / est count
    # / scoring join) materializes the blocks; one fewer job per call
    return out.localCheckpoint(eager=False) if materialize else out


def _centers_df(spark: SparkSession, centers) -> DataFrame:
    return spark.createDataFrame(
        [(j, [float(x) for x in c]) for j, c in enumerate(centers)],
        "_j int, _cu array<double>",
    )


def _assign_exact(
    frame: DataFrame,
    centers,
    dim: int,
    id_name: str,
    est_rows: int | None = None,
) -> DataFrame:
    """Nearest-centroid assignment as a BROADCAST cross join + max_by:
    one codegen'd 64-term dot per (row, centroid) pair — a single
    k*dim-term expression array would overflow janino's method limit
    and fall back to interpreted eval (measured 3x slower than even
    the HOF fold). The argmax key struct (dot, -j) breaks ties to the
    LOWEST cluster id, exactly the oracle's (dot DESC, j) row_number;
    the aggregate is map-side combinable (k skinny rows per input row
    shrink to one partial max before any shuffle), and the original
    row comes back via one equi join on the id.

    Adds ``_cl`` to ``frame``. ``frame`` should be materialized (a
    LogicalRDD) so the join's two references don't recompute it."""
    spark = frame.sparkSession
    cdf = F.broadcast(_centers_df(spark, centers))
    amax = (
        frame.crossJoin(cdf)
        .select(
            id_name,
            "_j",
            dot_cols(
                F.col("_u"), F.col("_cu"), dim, est_rows=est_rows
            ).alias("_dot"),
        )
        .groupBy(id_name)
        .agg(
            F.max_by(
                "_j", F.struct(F.col("_dot"), (-F.col("_j")).alias("_nj"))
            ).alias("_cl")
        )
    )
    return frame.join(amax, id_name)


def fit_centroids_exact(
    corpus: DataFrame,
    n_clusters: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "ivf",
    dim: int = 64,
) -> list[list[float]]:
    """Spherical Lloyd whose every step an SQL oracle can replay:
    md5-ordered deterministic init, exact DECIMAL dimension sums for
    the means (order-independent — repartitioning the corpus cannot
    move a centroid by an ulp), fixed-expression renormalization, and
    9-dp rounding so each iteration's centroids are exactly
    representable on both engines. Returns n_clusters rounded unit
    vectors (a cluster that loses all members keeps its centroid).

    Scale: one narrow assignment pass + one map-side-combinable
    (cluster, dim) aggregation per iteration; the driver holds only
    k x dim floats between iterations."""
    cn = _unit(corpus, id_col, vec_col, "_id", dim, materialize=True)
    try:
        seed_rows = (
            cn.orderBy(
                F.md5(F.concat(F.col("_id").cast("string"), F.lit(salt))), "_id"
            )
            .limit(n_clusters)
            .select("_u")
            .collect()
        )
        centers = [list(r["_u"]) for r in seed_rows]
        for _ in range(iters):
            assigned = _assign_exact(cn, centers, dim, "_id")
            sums = (
                assigned.select("_cl", F.posexplode("_u").alias("_d", "_x"))
                .groupBy("_cl", "_d")
                .agg(
                    F.sum(F.round("_x", 9).cast("decimal(12,9)")).alias("_s"),
                    F.count(F.lit(1)).alias("_c"),
                )
            )
            normed = (
                sums.groupBy("_cl")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("_d", "_s", "_c"))
                    ).alias("_a")
                )
                .select(
                    "_cl",
                    F.transform(
                        "_a",
                        lambda s: s["_s"].cast("double")
                        / s["_c"].cast("double"),
                    ).alias("_m"),
                )
                .withColumn(
                    "_nn", F.greatest(l2_norm(F.col("_m")), F.lit(1e-12))
                )
                .select(
                    "_cl",
                    F.transform(
                        "_m", lambda x: F.round(x / F.col("_nn"), 9)
                    ).alias("_cu"),
                )
            )
            got = {int(r["_cl"]): list(r["_cu"]) for r in normed.collect()}
            centers = [got.get(j, centers[j]) for j in range(len(centers))]
    finally:
        cn.unpersist()
    return centers


def _parquet_num_rows(path: str) -> int | None:
    """Row count from parquet FOOTERS only (no data scan): sum of
    metadata.num_rows over the fragment files under ``path``.
    O(#files) metadata reads — the cheap half of the self-feeding
    cost-rule estimate for persisted indexes."""
    try:
        import glob

        import pyarrow.parquet as pq

        files = glob.glob(
            os.path.join(path, "**", "*.parquet"), recursive=True
        )
        if not files:
            return None
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


# Logical nodes that never ADD rows — the only plans whose parquet
# footer sum is a true upper bound. Joins/explodes/unions multiply
# rows (and inputFiles() dedupes paths), so anything else -> None.
_ROW_PRESERVING_NODES = {
    "Project", "Filter", "SubqueryAlias", "GlobalLimit", "LocalLimit",
    "Sort", "Relation", "LogicalRelation", "RelationV2",
    "DataSourceV2Relation", "View", "Repartition",
    "RepartitionByExpression", "ResolvedHint", "Deduplicate", "Distinct",
}


def _row_preserving_plan(df: DataFrame) -> bool:
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.nodeName() not in _ROW_PRESERVING_NODES:
                return False
            kids = node.children()
            for i in range(kids.size()):
                stack.append(kids.apply(i))
        return True
    except Exception:
        return False


def _footer_files(df: DataFrame) -> list[str] | None:
    """Locally-readable parquet fragment paths behind ``df``, or None
    when footer-derived bounds would be unsound: non-row-preserving
    plans (a join, explode or self-union can emit MORE rows than its
    scans hold — r15 review), frames not backed by files
    (checkpointed, in-memory), or remote schemes."""
    if not _row_preserving_plan(df):
        return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    out = []
    for uri in files:
        if uri.startswith("file://"):
            uri = uri[7:]
        elif uri.startswith("file:"):
            uri = uri[5:]
        elif "://" in uri:
            return None  # remote scheme: footers not local
        out.append(uri)
    return out


def _footer_row_bound(df: DataFrame) -> int | None:
    """UPPER bound on ``df``'s rows from the parquet footers of its
    input files — no Spark job (soundness rules: _footer_files)."""
    files = _footer_files(df)
    if files is None:
        return None
    try:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    except Exception:
        return None


def _footer_byte_bound(df: DataFrame) -> int | None:
    """UPPER bound on ``df``'s UNCOMPRESSED bytes from the parquet
    footers (sum of row-group total_byte_size) — no Spark job, same
    soundness rules as _footer_row_bound. Row counts alone can't gate
    a broadcast: variable-width columns (token strings, arrays) make
    per-row bytes unbounded (r15b review)."""
    files = _footer_files(df)
    if files is None:
        return None
    try:
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            total += sum(
                md.row_group(i).total_byte_size
                for i in range(md.num_row_groups)
            )
        return total
    except Exception:
        return None


def _derive_est_scored_rows(
    cn: DataFrame | None,
    qn: DataFrame,
    nprobe: int,
    n_clusters: int,
    corpus_rows: int | None = None,
    raw_corpus: DataFrame | None = None,
    raw_queries: DataFrame | None = None,
    multiplier: int = 1,
) -> int | None:
    """Self-feeding cost-rule estimate (r14 — the r13 verdict's #2
    ask): |queries| * |corpus| * nprobe / n_clusters (times
    ``multiplier`` — the ADC subspace fanout for PQ callers), the rows
    the scoring join will touch, derived INSIDE the operator so the
    dot_cols cost rule fires at deployment scale without any caller
    volunteering a hint.

    Cost of deriving (r14 ADVICE): two short-circuits before any
    count() job runs —
    - SPARK_GRAFT_DOT_UNROLL set: the strategy is forced either way,
      so the estimate cannot flip anything; return None untouched.
    - parquet-footer UPPER bounds on the callers' RAW frames
      (``raw_corpus``/``raw_queries``): when even the upper-bound
      estimate sits below the codegen crossover, exact counts cannot
      flip the rule — return the bound (labeled estimate, no job).
    Otherwise the frames the counts run over are localCheckpointed by
    the callers (cached-block passes, not recomputations);
    persisted-index callers pass ``corpus_rows`` straight from parquet
    footers (_parquet_num_rows) and skip the corpus pass entirely.
    Values are bit-identical under either dot strategy (pinned in
    tests) — the estimate only moves the clock."""
    from .similarity import DOT_UNROLL_CROSSOVER_ROWS, _unroll_override

    if _unroll_override() is not None:
        return None
    mult = max(int(multiplier), 1)
    try:
        nc_ub = corpus_rows
        if nc_ub is None and raw_corpus is not None:
            nc_ub = _footer_row_bound(raw_corpus)
        nq_ub = (
            _footer_row_bound(raw_queries)
            if raw_queries is not None
            else None
        )
        if nc_ub is not None and nq_ub is not None:
            ub = int(nq_ub * nc_ub * nprobe / max(n_clusters, 1)) * mult
            if ub < DOT_UNROLL_CROSSOVER_ROWS:
                return ub
        nc = corpus_rows if corpus_rows is not None else cn.count()
        nq = qn.count()
        return int(nq * nc * nprobe / max(n_clusters, 1)) * mult
    except Exception:
        return None


def _local_path(path: str) -> str:
    """``path`` without a ``file:`` scheme (remote URIs unchanged)."""
    for prefix in ("file://", "file:"):
        if path.startswith(prefix):
            return path[len(prefix):]
    return path


def _read_artifact_rows(spark: SparkSession, path: str) -> list[dict]:
    """Bounded persisted-fit artifact (centroids: k x dim doubles,
    codebooks: m x n_codes rows) to driver rows. LOCAL paths read via
    pyarrow with NO scheduled job — the same bytes land on the driver
    as a collect would put there, but each collect costs a job + plan
    analysis (~0.1 s at bench scale, measured, opt r15 guide §1.2/§5);
    non-local paths (object store at deployment scale) fall back to
    the Spark collect. Values identical either way: same files, and
    callers sort driver-side instead of via orderBy."""
    p = _local_path(path)
    if "://" not in p and os.path.isdir(p):
        try:
            import pyarrow.parquet as pq

            return pq.read_table(p).to_pylist()
        except Exception:
            pass
    return [r.asDict() for r in spark.read.parquet(path).collect()]


def _collect_unit_queries(
    queries: DataFrame, id_col: str, vec_col: str, dim: int
):
    """Driver-side normalized query vectors ordered by id — the
    probe-list-class collect of the persisted search paths (|queries|
    rows regardless of corpus size). Returns the pandas frame
    (query_id, _u) plus the id column's Spark type string.

    Raises ValueError on repeated query ids: every probe producer emits
    one row set per id, so a repeated id would score each candidate
    once per copy and fill its top-k with duplicate neighbours. The
    ids are on the driver already, so the check costs no job."""
    qpdf = (
        _unit(queries, id_col, vec_col, "query_id", dim)
        .orderBy("query_id")
        .toPandas()
    )
    ids = qpdf["query_id"]
    repeated = sorted(ids[ids.duplicated()].unique().tolist())
    if repeated:
        raise ValueError(
            f"query ids must be unique; repeated ids: {repeated[:20]}"
        )
    qid_type = "long"
    try:
        qid_type = queries.schema[id_col].dataType.simpleString()
    except Exception:
        pass
    return qpdf, qid_type


def _read_centroids(spark: SparkSession, path: str) -> list[list[float]]:
    """A persisted index's coarse centroids, ordered by cluster id."""
    return [
        list(r["centroid"])
        for r in sorted(
            _read_artifact_rows(spark, os.path.join(path, "centroids")),
            key=lambda r: r["cluster"],
        )
    ]


def _query_probes_driver(
    spark: SparkSession, qpdf, centers, nprobe: int, qid_type: str
):
    """`_query_probes_exact` replayed DRIVER-SIDE over the collected
    query vectors (the LSH multiprobe pattern, opt r15): each query's
    nprobe nearest centroids by `_exact_fold_gram` float64 dots — the
    same left-fold arithmetic as the SQL and Arrow kernels (pinned
    bit-identical in tests), ranked by (dot DESC, cluster), which is
    exactly the row_number ordering of the distributed form (an
    all-NULL vector ties every dot and falls back to cluster order,
    matching NULLS-LAST + the _j tie-break). Returns the local probes
    frame (query_id, _qu, _cl) and the sorted distinct cluster list —
    no probe job, no checkpoint, no distinct-collect job.

    ``qpdf`` must hold each query id once (``_collect_unit_queries``
    enforces it): the output is one row per (query_id, _cl), which the
    ADC shortlist and the scoring joins rely on."""
    import numpy as np

    C = np.asarray(centers, dtype=np.float64)
    npb = min(nprobe, len(centers))
    rows = []
    need: set = set()
    for qid, qu in zip(qpdf["query_id"], qpdf["_u"]):
        if qu is None:
            order = list(range(npb))
            qu_list = None
        else:
            U = np.asarray(qu, dtype=np.float64)[None, :]
            G = _exact_fold_gram(U, C)[0]
            order = sorted(
                range(len(centers)), key=lambda j: (-G[j], j)
            )[:npb]
            qu_list = [float(x) for x in U[0]]
        for j in order:
            rows.append((qid, qu_list, int(j)))
            need.add(int(j))
    probes = spark.createDataFrame(
        rows, f"query_id {qid_type}, _qu array<double>, _cl int"
    )
    return probes, sorted(need)


def _query_probes_exact(
    qn: DataFrame, centers, nprobe: int, dim: int = 64
) -> DataFrame:
    """(query_id, _qu, _cl): each query's nprobe nearest centroids —
    broadcast cross join against the centroid frame (one codegen'd dot
    per pair; see _assign_exact for why not one giant literal array),
    (dot DESC, cluster) window rank over |queries| x k tiny rows.

    ``qn`` must hold each query id once: the window ranks per id, so a
    repeated id yields 2 x nprobe rows and downstream joins score every
    candidate twice (one row per (query_id, _cl) is the contract)."""
    spark = qn.sparkSession
    cdf = F.broadcast(_centers_df(spark, centers))
    wq = Window.partitionBy("query_id").orderBy(F.col("_dot").desc(), "_j")
    return (
        qn.crossJoin(cdf)
        .withColumn("_dot", dot_cols(F.col("_u"), F.col("_cu"), dim))
        .withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= min(nprobe, len(centers)))
        .select("query_id", F.col("_u").alias("_qu"), F.col("_j").alias("_cl"))
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rnk"
        )
    )


def ann_topk_ivf_exact(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    nprobe: int = 6,
    iters: int = 3,
    salt: str = "ivf",
    centers=None,
    dim: int = 64,
    est_scored_rows: int | None = None,
) -> DataFrame:
    """IVF-flat ANN under the exact-arithmetic contract: fit (or take)
    replayable centroids, assign the corpus and probe the queries with
    the same argmax-of-fold-dots, score exact cosine (normalized-vector
    dot) inside the probed clusters only, rank (cos DESC, id). Output
    (query_id, neighbor_id, cosine, rnk), the cosine_topk shape; still
    genuinely approximate (nprobe < n_clusters), but every emitted
    double is SQL-reproducible.

    Query ids must be unique: each id gets its own probe rows, so a
    repeated id scores every candidate once per copy and the top-k
    window fills with duplicate neighbours (the persisted
    query_*_index_exact paths reject repeats; here it is the caller's
    contract, checking it would cost a job).

    ``est_scored_rows``: the caller's estimate of rows the scoring
    stage will touch (|queries| * |corpus| * nprobe / n_clusters) —
    feeds the dot_cols cost rule so 100 TB deployments get the
    codegen'd dot automatically (values bit-identical either way).
    When omitted it is DERIVED from the materialized inputs (r14:
    the cost rule is self-feeding — see _derive_est_scored_rows);
    callers that already know the sizes can still pass it to skip
    the counting pass.

    Callers that amortize the fit across runs should use the persisted
    index (build_ivf_index_exact / query_ivf_index_exact — the
    cluster-partitioned parquet form of the assignment, built
    distributively): the r13 assigned_pairs driver-side shortcut was
    removed because an O(corpus) collect is exactly the shape this
    engine exists to avoid."""
    if centers is None:
        centers = fit_centroids_exact(
            corpus, n_clusters, iters, id_col, vec_col, salt, dim
        )
    cn = _unit(corpus, id_col, vec_col, "neighbor_id", dim,
               materialize=True)
    qn = _unit(queries, id_col, vec_col, "query_id", dim, materialize=True)
    if est_scored_rows is None:
        est_scored_rows = _derive_est_scored_rows(
            cn, qn, nprobe, len(centers),
            raw_corpus=corpus, raw_queries=queries,
        )
    assigned = _assign_exact(cn, centers, dim, "neighbor_id",
                             est_rows=est_scored_rows)
    probes = _query_probes_exact(qn, centers, nprobe, dim)
    # r15 opt: the probe-scoring fold runs in the Arrow numpy kernel
    # (fold_dot_frame — bit-identical doubles) instead of a per-row
    # interpreted HOF fold fused into the join projection (guide §4.2).
    scored = fold_dot_frame(
        assigned.join(F.broadcast(probes), "_cl"),
        "_qu", "_u", ["query_id", "neighbor_id"],
        dim=dim, est_rows=est_scored_rows,
    )
    return _rank_topk(scored, k)


# --- persisted IVF index ------------------------------------------------


def build_ivf_index_exact(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    iters: int = 3,
    salt: str = "ivf",
    centers=None,
    dim: int = 64,
) -> None:
    """Persist centroids + the NORMALIZED corpus partitioned by cluster
    (build once, probe many). Storing _u rather than the raw vector
    keeps the query path identical to the one-shot search — probe
    results are bit-equal by construction."""
    if centers is None:
        centers = fit_centroids_exact(
            corpus, n_clusters, iters, id_col, vec_col, salt, dim
        )
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(j, [float(x) for x in c]) for j, c in enumerate(centers)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    cn = _unit(corpus, id_col, vec_col, "neighbor_id", dim,
               materialize=True)
    (
        _assign_exact(cn, centers, dim, "neighbor_id")
        .withColumnRenamed("_cl", "cluster")
        .repartition("cluster")
        .write.mode("overwrite")
        .partitionBy("cluster")
        .parquet(os.path.join(path, "assigned"))
    )


def query_ivf_index_exact(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    est_scored_rows: int | None = None,
) -> DataFrame:
    """Search the persisted exact-arith IVF index: the distinct probed
    cluster ids become a literal IN-filter on the partition column
    (FileScan PartitionFilters — only ~nprobe/n_clusters of the index
    bytes are read), then fold-dot scoring + rank exactly like the
    one-shot path. ``est_scored_rows`` feeds the dot_cols cost rule
    (see ann_topk_ivf_exact); omitted, it is derived from the index's
    parquet footers + the query count (self-feeding, r14). Query ids
    must be unique (ValueError otherwise — see _collect_unit_queries)."""
    # opt r15 (guide §1.2/§5, the LSH persisted-path pattern): the
    # centroid artifact reads driver-side (no job on local paths), the
    # probe assignment replays driver-side from ONE query collect
    # (bit-identical fold arithmetic), and the estimate is pure
    # arithmetic over footer rows — the pre-scan driver work drops
    # from 4 scheduled jobs to 1.
    centers = _read_centroids(spark, path)
    qpdf, qid_type = _collect_unit_queries(queries, id_col, vec_col, dim)
    probes, needed = _query_probes_driver(
        spark, qpdf, centers, nprobe, qid_type
    )
    if est_scored_rows is None:
        apath = os.path.join(path, "assigned")
        corpus_rows = _parquet_num_rows(apath)
        if corpus_rows is None:
            # object store: footers unreadable — one narrow count
            corpus_rows = (
                spark.read.parquet(apath).select("neighbor_id").count()
            )
        est_scored_rows = int(
            len(qpdf) * corpus_rows * nprobe / max(len(centers), 1)
        )
    assigned = (
        spark.read.parquet(os.path.join(path, "assigned"))
        .filter(F.col("cluster").isin(needed))
        .withColumnRenamed("cluster", "_cl")
    )
    # r15 opt: Arrow numpy fold kernel for the probe scoring (see
    # ann_topk_ivf_exact) — bit-identical, partition pruning unchanged.
    scored = fold_dot_frame(
        assigned.join(F.broadcast(probes), "_cl"),
        "_qu", "_u", ["query_id", "neighbor_id"],
        dim=dim, est_rows=est_scored_rows,
    )
    return _rank_topk(scored, k)


# --- exact-arith product quantization -----------------------------------


def _subvectors(frame: DataFrame, id_name: str, m: int, dim: int) -> DataFrame:
    """(id, _j, _sv): contiguous subspace slices of the normalized
    vector — one narrow explode, no shuffle."""
    sub = dim // m
    parts = F.array(
        *[
            F.struct(
                F.lit(j).alias("_j"),
                F.slice("_u", j * sub + 1, sub).alias("_sv"),
            )
            for j in range(m)
        ]
    )
    return frame.select(id_name, F.explode(parts).alias("_p")).select(
        id_name, F.col("_p._j").alias("_j"), F.col("_p._sv").alias("_sv")
    )


def _l2_expr(a: F.Column, b: F.Column, dim: int) -> F.Column:
    """Squared L2 distance as the FIXED expression
    dot(a,a) - 2*dot(a,b) + dot(b,b): three sequential dots combined
    in one deterministic shape both engines evaluate identically (an
    elementwise (x-y)^2 fold has no DuckDB twin with pinned order).
    Unrolled (dot_cols) for codegen."""
    return (
        dot_cols(a, a, dim)
        - F.lit(2.0) * dot_cols(a, b, dim)
        + dot_cols(b, b, dim)
    )


def fit_pq_codebooks_exact(
    cn: DataFrame,
    spark: SparkSession,
    m: int = 4,
    n_codes: int = 16,
    iters: int = 2,
    dim: int = 64,
    salt: str = "pq",
):
    """Product-quantization codebooks under the exact contract: ONE
    grouped Lloyd over all m subspaces at once (rows keyed (_j, code)),
    md5-ordered init (the first n_codes vectors' subspace slices), the
    fixed-expression L2, DECIMAL-exact means, 9-dp rounding. Returns
    [(j, t, [floats])]. ``cn`` is a (_id, _u) normalized frame.

    Choosing (m, n_codes) — measured operating points
    (ann_operating_curve.json, r13 `pq_sweep`, dim-64 clusterable
    corpus, recall@5 vs exact): the m=4 x 16-code default saturates at
    ~0.38 (and ~0.28 on near-uniform vectors — 16 centroids per
    16-dim subspace simply cannot represent the geometry); m=8 x 64
    codes reaches 0.68; m=16 x 64 codes reaches 0.83 at ~1.3x the
    m=4 query latency. Rule of thumb at production dims: give each
    subspace <= 8 dims and >= 64 codes, then buy the last recall with
    refine_factor, not nprobe (the sweep shows recall flat in nprobe
    once the coarse probes cover the cluster — the ADC shortlist is
    the limiter)."""
    sub = dim // m
    assert sub * m == dim, f"dim {dim} not divisible by m={m}"
    subv = _subvectors(cn, "_id", m, dim).localCheckpoint(eager=False)  # lazy (r15)
    try:
        seed_ids = [
            r["_id"]
            for r in cn.orderBy(
                F.md5(F.concat(F.col("_id").cast("string"), F.lit(salt))),
                "_id",
            )
            .limit(n_codes)
            .select("_id")
            .collect()
        ]
        rank = spark.createDataFrame(
            [(i, t) for t, i in enumerate(seed_ids)], "_id long, _t int"
        )
        cb_rows = (
            subv.join(F.broadcast(rank), "_id")
            .select("_j", "_t", F.col("_sv").alias("_cb"))
            .collect()
        )
        books = {(r["_j"], r["_t"]): list(r["_cb"]) for r in cb_rows}
        for _ in range(iters):
            cb_df = spark.createDataFrame(
                [(j, t, v) for (j, t), v in sorted(books.items())],
                "_j int, _t int, _cb array<double>",
            )
            wmin = Window.partitionBy("_id", "_j").orderBy("_d2", "_t")
            assign = (
                subv.join(F.broadcast(cb_df), "_j")
                .withColumn("_d2", _l2_expr(F.col("_sv"), F.col("_cb"), sub))
                .withColumn("_r", F.row_number().over(wmin))
                .filter(F.col("_r") == 1)
                .select("_j", "_t", "_sv")
            )
            sums = (
                assign.select("_j", "_t", F.posexplode("_sv").alias("_d", "_x"))
                .groupBy("_j", "_t", "_d")
                .agg(
                    F.sum(F.round("_x", 9).cast("decimal(12,9)")).alias("_s"),
                    F.count(F.lit(1)).alias("_c"),
                )
            )
            means = (
                sums.groupBy("_j", "_t")
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct("_d", "_s", "_c"))
                    ).alias("_a")
                )
                .select(
                    "_j",
                    "_t",
                    F.transform(
                        "_a",
                        lambda s: F.round(
                            s["_s"].cast("double") / s["_c"].cast("double"), 9
                        ),
                    ).alias("_cb"),
                )
            )
            got = {
                (int(r["_j"]), int(r["_t"])): list(r["_cb"])
                for r in means.collect()
            }
            books = {key: got.get(key, old) for key, old in books.items()}
    finally:
        subv.unpersist()
    return [(j, t, v) for (j, t), v in sorted(books.items())]


def encode_codes_exact(
    cn: DataFrame,
    centers,
    books,
    m: int = 4,
    dim: int = 64,
    id_name: str = "neighbor_id",
) -> DataFrame:
    """PQ-encode a normalized corpus under the exact contract:
    (id, _j, _t, _cl) — nearest coarse centroid by argmax-of-fold-dots
    plus, per subspace, the (d2 ASC, code) nearest codebook entry by
    the fixed L2 expression. Deterministic given (corpus bytes,
    centers, books), which is what lets callers fingerprint-cache the
    result (plans/llmops._ivf_fit_cached)."""
    spark = cn.sparkSession
    sub = dim // m
    cb_df = F.broadcast(
        spark.createDataFrame(
            [(j, t, list(v)) for j, t, v in books],
            "_j int, _t int, _cb array<double>",
        )
    )
    assigned = _assign_exact(cn, centers, dim, id_name)
    wmin = Window.partitionBy(id_name, "_j").orderBy("_d2", "_t")
    return (
        _subvectors(assigned, id_name, m, dim)
        .join(cb_df, "_j")
        .withColumn("_d2", _l2_expr(F.col("_sv"), F.col("_cb"), sub))
        .withColumn("_r", F.row_number().over(wmin))
        .filter(F.col("_r") == 1)
        .select(id_name, "_j", "_t")
        .join(assigned.select(id_name, "_cl"), id_name)
    )


def encode_codes_arrays(
    cn: DataFrame,
    centers,
    books,
    m: int = 4,
    dim: int = 64,
    id_name: str = "neighbor_id",
) -> DataFrame:
    """PQ codes in the ARRAY layout: ONE row per vector —
    (id, _ts array<int>, _cl) with ``_ts[j]`` the subspace-j code.
    The per-(id, subspace) argmin is exactly
    :func:`encode_codes_exact`'s; the pivot to one row per vector is
    what lets the ADC stage fold the m LUT terms inside a single JVM
    expression instead of shuffling candidates x m rows through a
    groupBy (opt r16, guide §2.4 "remove shuffles outright"). The
    pivot costs one corpus-keyed exchange at BUILD time — paid once
    per corpus fingerprint on the persisted paths, and on the one-shot
    path it replaces the strictly larger candidates-x-m ADC exchange
    (candidates = corpus x |q| x nprobe/n_clusters >= corpus whenever
    more than one query probes)."""
    rows = encode_codes_exact(
        cn, centers, books, m=m, dim=dim, id_name=id_name
    )
    return (
        rows.groupBy(id_name, "_cl")
        .agg(F.array_sort(F.collect_list(F.struct("_j", "_t"))).alias("_a"))
        .select(
            id_name,
            F.transform("_a", lambda s: s["_t"]).alias("_ts"),
            "_cl",
        )
    )


def _pq_lut(spark: SparkSession, qsub: DataFrame, books, sub: int) -> DataFrame:
    """(query_id, _lut array<array<decimal(16,12)>>): the per-query ADC
    look-up table, ``_lut[j][t+1] = round(dot(qsv_j, cb[j][t]), 12)``
    as DECIMAL(16,12) — the SAME Spark expression (same fold, same
    rounding chain) the retired candidates-x-m term projection
    evaluated, so every term is bit-identical by construction. Size is
    |queries| x m x n_codes rows end-to-end (tiny; the two pivot
    aggregates below run on the broadcast-build side, off the scan's
    critical path)."""
    cb_df = spark.createDataFrame(
        [(j, t, list(v)) for j, t, v in books],
        "_j int, _t int, _cb array<double>",
    )
    return (
        qsub.join(cb_df, "_j")
        .select(
            "query_id",
            "_j",
            "_t",
            F.round(dot_cols(F.col("_qsv"), F.col("_cb"), sub), 12)
            .cast("decimal(16,12)")
            .alias("_term"),
        )
        .groupBy("query_id", "_j")
        .agg(F.array_sort(F.collect_list(F.struct("_t", "_term"))).alias("_a"))
        .select(
            "query_id",
            "_j",
            F.transform("_a", lambda s: s["_term"]).alias("_lj"),
        )
        .groupBy("query_id")
        .agg(F.array_sort(F.collect_list(F.struct("_j", "_lj"))).alias("_b"))
        .select(
            "query_id",
            F.transform("_b", lambda s: s["_lj"]).alias("_lut"),
        )
    )


# ADC score from the array layout: fold the m per-subspace LUT terms in
# one JVM expression. DECIMAL addition at a fixed scale is EXACT, so
# this left fold produces the identical value the retired
# groupBy+sum(decimal(16,12)) aggregated in arbitrary order — the
# ordering key (_adc DESC, neighbor_id) cannot move.
#
# Accumulator precision is load-bearing: decimal(20,12) + the
# decimal(16,12) term adds to decimal(21,12) — WITHIN the 38-digit
# system cap, so the addition is exact and the cast back to (20,12)
# is a no-op (|sum| <= 64 terms x 10^4 < 10^8 integral digits). A
# wider accumulator is a trap, measured r16: (38,12) + (16,12) wants
# precision 39 > 38, and spark.sql.decimalOperations.allowPrecisionLoss
# (default true) silently REDUCES THE SCALE to 11 — every fold step
# rounds and the sum drifts from the groupBy's by ~1e-11 (caught by
# the bit-equality pin in tests/test_opt_r16.py).
_ADC_FOLD = (
    "aggregate(zip_with(_ts, _lut, (t, lj) -> element_at(lj, t + 1)), "
    "cast(0 as decimal(20,12)), "
    "(acc, x) -> cast(acc + x as decimal(20,12)))"
)


def _adc_shortlist(
    codes_arr: DataFrame,
    probes: DataFrame,
    lut: DataFrame,
    k: int,
    refine_factor: int,
) -> DataFrame:
    """(query_id, neighbor_id) ADC shortlist from array-layout codes:
    candidates via the broadcast probe join, ADC via the _ADC_FOLD
    expression (no exchange until the per-query rank window).
    ``probes`` carries exactly one row per (query_id, _cl) by
    construction (_query_probes_exact ranks distinct clusters;
    _query_probes_driver emits a sorted index list), so no dedup
    exchange is spent on the broadcast side."""
    cand = codes_arr.join(
        F.broadcast(probes.select("query_id", "_cl")), "_cl"
    )
    adc = cand.join(F.broadcast(lut), "query_id").select(
        "query_id", "neighbor_id", F.expr(_ADC_FOLD).alias("_adc")
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("_adc").desc(), F.col("neighbor_id")
    )
    return (
        adc.withColumn("_r", F.row_number().over(ws))
        .filter(F.col("_r") <= k * refine_factor)
        .select("query_id", "neighbor_id")
    )


def ann_topk_ivfpq_exact(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    nprobe: int = 8,
    m: int = 4,
    n_codes: int = 16,
    refine_factor: int = 8,
    iters: int = 3,
    pq_iters: int = 2,
    dim: int = 64,
    artifacts: tuple | None = None,
) -> DataFrame:
    """IVF-PQ with ADC + exact refine, every double SQL-reproducible:
    coarse probe (the exact-arith IVF machinery), candidates scored
    WITHOUT raw vectors as order-independent DECIMAL(16,12) sums of
    per-subspace LUT dot terms, top-(k*refine_factor) shortlist by
    (adc DESC, id), then exact normalized-dot cosine on the shortlist
    ranks the final top-k. ``artifacts`` = (centers, books, codes_df)
    from a persisted index (codes in the encode_codes_arrays layout);
    None fits + encodes one-shot. Query ids must be unique (see
    ann_topk_ivf_exact).

    opt r16 (guide §2.4): the ADC runs from the array code layout —
    per-query LUT broadcast + one zip_with/aggregate decimal fold per
    candidate — instead of fanning candidates x m subspace rows
    through two broadcast joins and a groupBy exchange. Identical
    per-term doubles (the LUT evaluates the same round(dot_cols)
    expression), identical sums (fixed-scale DECIMAL addition is
    exact, so fold order == groupBy order), so the shortlist and the
    final top-k are bit-equal — pinned in tests/test_opt_r16.py
    against the retired groupBy form."""
    spark = corpus.sparkSession
    sub = dim // m
    cn = _unit(corpus, id_col, vec_col, "neighbor_id", dim,
               materialize=True)
    qn = _unit(queries, id_col, vec_col, "query_id", dim, materialize=True)
    if artifacts is None:
        centers = fit_centroids_exact(
            corpus, n_clusters, iters, id_col, vec_col, "ivf", dim
        )
        books = fit_pq_codebooks_exact(
            cn.withColumnRenamed("neighbor_id", "_id"),
            spark,
            m=m,
            n_codes=n_codes,
            iters=pq_iters,
            dim=dim,
        )
        codes_df = None
    else:
        centers, books, codes_df = artifacts
    if codes_df is None:
        codes_df = encode_codes_arrays(cn, centers, books, m=m, dim=dim)
    probes = _query_probes_exact(qn, centers, nprobe, dim).localCheckpoint(
        eager=True
    )
    qsub = _subvectors(qn, "query_id", m, dim).withColumnRenamed(
        "_sv", "_qsv"
    )
    shortlist = _adc_shortlist(
        codes_df, probes, _pq_lut(spark, qsub, books, sub), k, refine_factor
    )
    qvec = probes.select("query_id", "_qu").dropDuplicates(["query_id"])
    scored = (
        shortlist.join(cn, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn("cos", dot_cols(F.col("_qu"), F.col("_u"), dim))
    )
    return _rank_topk(scored, k)


# --- persisted IVF-PQ index ----------------------------------------------
#
# Layout under the index root:
#   centroids/  codebooks/            frozen fit artifacts (tiny)
#   codes/ingest_batch=<b>/cluster=<j>/   array-layout PQ codes
#   vectors/ingest_batch=<b>/             normalized vectors (refine)
#   _FORMAT                           layout version, written last
# Batch 0 is the build; appends add leafs 1, 2, ...; a compaction
# (streaming/neardup._fold_store) folds them into one negative-id leaf
# and keeps the cluster= sub-partitioning, so probe pruning survives.

# 4 = ingest_batch leafs over array codes, parquet _FORMAT marker
IVFPQ_FORMAT_VERSION = 4
_IVFPQ_FORMAT_DIR = "_FORMAT"


def _write_ivfpq_format(spark: SparkSession, path: str, version: int) -> None:
    """The format marker is a one-row parquet artifact, so it is
    written and read through the same local-or-Spark split as the fit
    artifacts (works on object-store paths too)."""
    spark.createDataFrame([(int(version),)], "version int").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(path, _IVFPQ_FORMAT_DIR))


def _check_ivfpq_format(spark: SparkSession, path: str) -> None:
    """Fail fast on an index this code cannot read: a missing or older
    ``_FORMAT`` marker means a build from before the current layout
    (or an interrupted one), which would otherwise die deep in the
    plan on an unresolved column."""
    try:
        rows = _read_artifact_rows(
            spark, os.path.join(path, _IVFPQ_FORMAT_DIR)
        )
        version = rows[0]["version"] if rows else None
    except Exception:  # no marker: the Spark read raises AnalysisException
        version = None
    if version != IVFPQ_FORMAT_VERSION:
        raise ValueError(
            f"IVF-PQ index at {path} has format version {version}, this "
            f"engine reads version {IVFPQ_FORMAT_VERSION}: rebuild the "
            "index with build_ivfpq_index_exact"
        )


def _read_ivfpq_artifacts(spark: SparkSession, path: str):
    """(centers, books, m, dim) of a persisted IVF-PQ index, after the
    format check — the one driver-side artifact read that query and
    append share. ``m`` and ``dim`` come from the artifacts
    themselves, so callers cannot pass a mismatched shape."""
    _check_ivfpq_format(spark, path)
    centers = _read_centroids(spark, path)
    books = [
        (int(r["_j"]), int(r["_t"]), list(r["_cb"]))
        for r in sorted(
            _read_artifact_rows(spark, os.path.join(path, "codebooks")),
            key=lambda r: (r["_j"], r["_t"]),
        )
    ]
    m = 1 + max(j for j, _t, _v in books)
    return centers, books, m, len(centers[0])


def _write_ivfpq_leaf(
    path: str, cn: DataFrame, codes: DataFrame, batch_id: int
) -> None:
    """Land one ingest leaf: array-layout codes (cluster-partitioned)
    and the normalized vectors, both as ``ingest_batch=<batch_id>``.
    Batch 0 is the build — a full overwrite of both tables. Batch
    n >= 1 is an append — a DYNAMIC partition overwrite that replaces
    only its own leafs, so a re-delivered batch is a no-op (the
    exactly-once contract of the streaming stores)."""
    def write(df: DataFrame, table: str, sub_partitions: list[str]):
        w = df.withColumn("ingest_batch", F.lit(int(batch_id))).write
        w = w.mode("overwrite")
        if batch_id > 0:
            w = w.option("partitionOverwriteMode", "dynamic")
        w.partitionBy("ingest_batch", *sub_partitions).parquet(
            os.path.join(path, table)
        )

    write(
        codes.withColumnRenamed("_cl", "cluster").repartition("cluster"),
        "codes",
        ["cluster"],
    )
    write(cn, "vectors", [])


def build_ivfpq_index_exact(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    m: int = 4,
    n_codes: int = 16,
    iters: int = 3,
    pq_iters: int = 2,
    dim: int = 64,
) -> None:
    """Persist the exact-arith IVF-PQ artifacts: centroids, codebooks,
    the array-layout code table partitioned by cluster, and the
    normalized vectors for the refine fetch (the index is
    self-contained) — codes and vectors as the ``ingest_batch=0``
    leaf that :func:`append_ivfpq_index_exact` extends. The
    ``_FORMAT`` marker is written last (and reset to version 0 first,
    so a rebuild cut short never reads as a complete index)."""
    spark = corpus.sparkSession
    _write_ivfpq_format(spark, path, 0)
    centers = fit_centroids_exact(
        corpus, n_clusters, iters, id_col, vec_col, "ivf", dim
    )
    cn = _unit(corpus, id_col, vec_col, "neighbor_id", dim,
               materialize=True)
    books = fit_pq_codebooks_exact(
        cn.withColumnRenamed("neighbor_id", "_id"),
        spark,
        m=m,
        n_codes=n_codes,
        iters=pq_iters,
        dim=dim,
    )
    spark.createDataFrame(
        [(j, [float(x) for x in c]) for j, c in enumerate(centers)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )
    spark.createDataFrame(
        [(j, t, list(v)) for j, t, v in books],
        "_j int, _t int, _cb array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "codebooks")
    )
    # array layout (opt r16): one row per vector, codes as array<int> —
    # see encode_codes_arrays; the exchange-free ADC fold reads this
    codes = encode_codes_arrays(cn, centers, books, m=m, dim=dim)
    _write_ivfpq_leaf(path, cn, codes, 0)
    _write_ivfpq_format(spark, path, IVFPQ_FORMAT_VERSION)


def append_ivfpq_index_exact(
    corpus: DataFrame,
    path: str,
    batch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Add vectors to a persisted IVF-PQ index with its quantizer
    frozen (the FAISS add-with-fixed-quantizer contract): normalize,
    assign to the stored centroids, encode with the stored codebooks —
    exactly the codes encode_codes_arrays over the whole corpus under
    those artifacts gives (pinned in tests/test_r10.py) — and land
    them as the ``ingest_batch=<batch_id>`` leaf. Re-delivering a
    batch replaces its own leaf (see _write_ivfpq_leaf)."""
    if batch_id <= 0:
        raise ValueError("append batch_id must be >= 1 (0 is the build leaf)")
    spark = corpus.sparkSession
    centers, books, m, dim = _read_ivfpq_artifacts(spark, path)
    cn = _unit(corpus, id_col, vec_col, "neighbor_id", dim,
               materialize=True)
    codes = encode_codes_arrays(cn, centers, books, m=m, dim=dim)
    _write_ivfpq_leaf(path, cn, codes, batch_id)


def query_ivfpq_index_exact(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 8,
    refine_factor: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search the persisted exact-arith IVF-PQ index: probed cluster
    ids partition-prune the code-table scan; ADC + refine run exactly
    like the one-shot path (bit-equal results by construction).
    ``m`` and the vector dim come from the stored artifacts. Query ids
    must be unique (ValueError otherwise — see _collect_unit_queries);
    an index without the current ``_FORMAT`` marker raises ValueError
    asking for a rebuild."""
    # opt r15 (guide §1.2/§5): both fit artifacts read driver-side (no
    # job on local paths), probe assignment replayed driver-side from
    # ONE query collect (bit-identical fold arithmetic) — pre-scan
    # driver work drops from 5 scheduled jobs to 1.
    centers, books, m, dim = _read_ivfpq_artifacts(spark, path)
    qpdf, qid_type = _collect_unit_queries(queries, id_col, vec_col, dim)
    probes, needed = _query_probes_driver(
        spark, qpdf, centers, nprobe, qid_type
    )
    codes = (
        spark.read.parquet(os.path.join(path, "codes"))
        .filter(F.col("cluster").isin(needed))
        .select("neighbor_id", "_ts", F.col("cluster").alias("_cl"))
    )
    cn = spark.read.parquet(os.path.join(path, "vectors")).select(
        "neighbor_id", "_u"
    )
    return _ivfpq_search_persisted(
        spark, cn, codes, probes, books, k, refine_factor, m, dim,
    )


def _ivfpq_search_persisted(
    spark, cn, codes_df, probes, books, k, refine_factor, m, dim,
):
    """ADC + refine tail of the persisted path (array-layout codes
    already cluster-pruned; ``cn`` the stored normalized vectors).
    opt r16: LUT-broadcast + zip_with/aggregate fold — no
    candidates-x-m fanout, no ADC groupBy exchange (see
    ann_topk_ivfpq_exact)."""
    sub = dim // m
    qn = probes.select("query_id", F.col("_qu").alias("_u")).dropDuplicates(
        ["query_id"]
    )
    qsub = _subvectors(qn, "query_id", m, dim).withColumnRenamed(
        "_sv", "_qsv"
    )
    shortlist = _adc_shortlist(
        codes_df, probes, _pq_lut(spark, qsub, books, sub), k, refine_factor
    )
    qvec = probes.select("query_id", "_qu").dropDuplicates(["query_id"])
    scored = (
        shortlist.join(cn, "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .withColumn("cos", dot_cols(F.col("_qu"), F.col("_u"), dim))
    )
    return _rank_topk(scored, k)


# --- exact-fold numpy kernels ---------------------------------------------
#
# The fused-codegen pathology: stacking the 64-term unrolled dot INTO a
# join / filter / exchange-write stage produces generated methods
# HotSpot executes 8-25x slower than the same expression in a
# standalone Project (measured at sf0.1: 0.45s standalone vs 4.0s
# join-fused vs 7.4s filter-fused per ~1.5M pairs), and staging via
# localCheckpoint pays a corpus*nprobe*1KB materialization instead.
# For the pair-heavy operators (k-NN graph, SemDeDup and its streaming
# cross-batch scorer) the exact contract is therefore executed as a
# numpy PER-DIM FOLD inside a cogroup-by-cluster plan:
#
#     acc = 0; for d in range(dim): acc += Q[:, d] * C[:, d]
#
# Each step is one IEEE-754 double multiply + add per pair — the
# identical left-fold sequence dot_cols unrolls and DuckDB's
# list_dot_product evaluates, just vectorized ACROSS pairs, so every
# emitted double still replays bit-for-bit in the oracle. numpy does
# not fuse multiply-add, so there is no FMA drift.


def _exact_fold_gram(Q, C):
    """(nq, nc) matrix of left-fold dots between the rows of Q and C —
    bit-identical to dot_cols / DuckDB list_dot_product per entry."""
    import numpy as np

    acc = np.zeros((Q.shape[0], C.shape[0]), dtype=np.float64)
    for d in range(Q.shape[1]):
        acc += np.multiply.outer(Q[:, d], C[:, d])
    return acc


def _fold_norms(X):
    """Per-row sqrt(left-fold dot(x, x)) — the raw-vector norm the
    oracles compute as sqrt(list_dot_product(e, e))."""
    import numpy as np

    return np.sqrt(_exact_fold_pairwise(X, X))


def _exact_fold_pairwise(Q, C):
    """Row-paired left-fold dots (Q[i] . C[i]) — the third shape of
    the bit-exactness-critical fold (gram = all pairs, norms = self,
    pairwise = aligned rows); ONE definition so the fold order can
    never drift between kernels."""
    import numpy as np

    acc = np.zeros(Q.shape[0], dtype=np.float64)
    for d in range(Q.shape[1]):
        acc += Q[:, d] * C[:, d]
    return acc


def fold_dot_frame(
    df: DataFrame,
    a_col: str,
    b_col: str,
    keep_cols: list[str],
    out: str = "cos",
    normalize: bool = False,
    dim: int | None = None,
    est_rows: int | None = None,
) -> DataFrame:
    """Per-row left-fold dot of two array columns as ONE Arrow-batched
    numpy pass — bit-identical per row to ``dot_cols`` / the
    interpreted HOF fold (the _exact_fold_pairwise sequence), just
    vectorized ACROSS rows, the same kernel boundary the LSH-768 path
    and exact_fold_topk already use. ``normalize=True`` emits the raw
    cosine fold(a,b) / (sqrt(fold(a,a)) * sqrt(fold(b,b))) — the exact
    expression :func:`similarity.cosine` builds, including its IEEE
    0/0 -> NaN behavior (NO zero guard, deliberately). A NULL array on
    either side yields NULL, matching the SQL fold.

    Why: stacking the fold INTO the scoring projection after a join
    leaves it interpreted at bench scale (dot_cols' cost rule) or
    join-fused codegen at 100 TB scale (measured 8-25x slower than a
    standalone Project — see the kernel-section note below); this pass
    moves only the columns it needs across the Arrow boundary
    (guide §4.1/4.2) and pays numpy-vectorized fold throughput.

    The choice is logged through the shared dot-decision ring
    (``dim``/``est_rows`` are record-keeping only here), so the
    committed BENCH record keeps per-ANN-query (est_rows, strategy)
    pairs (r14 verdict #6). ``SPARK_GRAFT_FOLD_KERNEL=sql`` forces the
    SQL-expression form back on (the dot_cols cost rule as before) —
    the bit-equality flip-test hook, same pattern as
    SPARK_GRAFT_DOT_UNROLL."""
    import numpy as np

    from .similarity import _log_dot_strategy, cosine

    if os.environ.get("SPARK_GRAFT_FOLD_KERNEL", "").strip().lower() == "sql":
        _log_dot_strategy(
            "sql-fold-scoring", dim or -1,
            "SPARK_GRAFT_FOLD_KERNEL=sql", est_rows,
        )
        from .similarity import dot

        a, b = F.col(a_col), F.col(b_col)
        if normalize:
            if dim is None:
                expr = cosine(a, b)
            else:
                expr = dot_cols(a, b, dim, est_rows=est_rows) / (
                    F.sqrt(dot_cols(a, a, dim, est_rows=est_rows))
                    * F.sqrt(dot_cols(b, b, dim, est_rows=est_rows))
                )
        else:
            expr = (
                dot(a, b) if dim is None
                else dot_cols(a, b, dim, est_rows=est_rows)
            )
        return df.select(*keep_cols, expr.alias(out))
    _log_dot_strategy(
        "numpy-fold", dim or -1, "Arrow-batched pairwise fold kernel",
        est_rows,
    )
    schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep_cols
    ) + f", {out} double"
    cols = df.select(*keep_cols, a_col, b_col)
    nk = len(keep_cols)

    # mapInArrow, NOT mapInPandas: the pandas->Arrow serializer treats
    # NaN in a double column as NULL, which would silently rewrite the
    # 0/0 cosine into a missing value; building the result column with
    # pyarrow directly (explicit null mask, from_pandas=False) keeps
    # NaN a VALUE and NULL a mask bit, and the keep_cols pass through
    # as untouched Arrow buffers (no pandas round-trip at all).
    def _matrix(arr, idx, n_sel):
        """Arrow list<floating> -> (n_sel, dim) float64 matrix for the
        selected row indices, via the ZERO-COPY flatten+reshape path
        (one buffer view + one reshape) whenever every selected row
        has the same length — to_pylist/np.stack per row costs ~100x
        this at dim 768 (measured: the first cut of this kernel ran
        1.6-1.8x SLOWER than the SQL fold it replaced, entirely list
        conversion). Ragged rows fall back to the per-row loop."""
        import pyarrow as pa

        sub = arr if n_sel == len(arr) else arr.take(pa.array(idx))
        flat = np.asarray(sub.flatten(), dtype=np.float64)
        if flat.size == 0 or flat.size % n_sel:
            return np.stack(
                [np.asarray(v, dtype=np.float64) for v in sub.to_pylist()]
            )
        d = flat.size // n_sel
        lens = np.asarray(pa.compute.list_value_length(sub))
        if not (lens == d).all():
            return np.stack(
                [np.asarray(v, dtype=np.float64) for v in sub.to_pylist()]
            )
        return flat.reshape(n_sel, d)

    def kern(batches, _norm=normalize, _nk=nk, _out=out):
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            a_arr, b_arr = batch.column(_nk), batch.column(_nk + 1)
            null_mask = np.zeros(n, dtype=bool)
            for arr in (a_arr, b_arr):
                if arr.null_count:
                    null_mask |= np.asarray(arr.is_null())
            vals = np.full(n, np.nan, dtype=np.float64)
            mask = ~null_mask
            if mask.any():
                idx = np.nonzero(mask)[0]
                A = _matrix(a_arr, idx, len(idx))
                B = _matrix(b_arr, idx, len(idx))
                acc = _exact_fold_pairwise(A, B)
                if _norm:
                    with np.errstate(divide="ignore", invalid="ignore"):
                        acc = acc / (_fold_norms(A) * _fold_norms(B))
                vals[idx] = acc
            cos_arr = pa.array(
                vals, type=pa.float64(),
                mask=null_mask if null_mask.any() else None,
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(_nk)] + [cos_arr],
                names=list(batch.schema.names[:_nk]) + [_out],
            )

    return cols.mapInArrow(kern, schema)


def exact_fold_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Brute-force exact top-k under the exact-arith contract, executed
    as one corpus scan with the (small) query set shipped in the UDF
    closure: per Arrow batch, the raw-vector cosine
    fold(q,c) / (sqrt(fold(q,q)) * sqrt(fold(c,c))) for every
    (batch-row, query) pair, per-query-per-batch top-k preselection
    (same (cos DESC, id) order as the final rank, so the global window
    sees a superset of the true top-k), then the global rank. Output:
    (query_id, neighbor_id) — the ground-truth frame for sampled
    recall audits.

    Scale: |queries| is an audit sample (N/16 ids); the corpus streams
    once; the window input is |queries| * k * n_batches skinny rows."""
    import numpy as np

    spark = corpus.sparkSession
    qpdf = (
        queries.select(
            F.col(id_col).alias("_qid"),
            as_double(F.col(vec_col)).alias("_qv"),
        )
        .orderBy("_qid")
        .toPandas()
    )
    if len(qpdf) == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cos double, rnk int"
        ).select("query_id", "neighbor_id")
    qids = qpdf["_qid"].to_numpy(dtype=np.int64)
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in qpdf["_qv"]])
    qn = _fold_norms(Q)
    c = corpus.select(
        F.col(id_col).alias("_cid"), as_double(F.col(vec_col)).alias("_cv")
    )

    def score(batches, _qids=qids, _Q=Q, _qn=qn, _k=k, _self=exclude_self):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cids = pdf["_cid"].to_numpy(dtype=np.int64)
            C = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_cv"]])
            cos = _exact_fold_gram(_Q, C) / np.multiply.outer(
                _qn, _fold_norms(C)
            )
            out_q, out_c, out_s = [], [], []
            for i in range(len(_qids)):
                row = cos[i]
                keep = np.ones(len(cids), dtype=bool)
                if _self:
                    keep = cids != _qids[i]
                idx = np.nonzero(keep)[0]
                if len(idx) == 0:
                    continue
                # (cos DESC, id ASC) — identical to the global rank
                order = np.lexsort((cids[idx], -row[idx]))[:_k]
                sel = idx[order]
                out_q.append(np.full(len(sel), _qids[i]))
                out_c.append(cids[sel])
                out_s.append(row[sel])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": np.concatenate(out_q),
                        "neighbor_id": np.concatenate(out_c),
                        "cos": np.concatenate(out_s),
                    }
                )

    scored = c.mapInPandas(
        score, "query_id long, neighbor_id long, cos double"
    )
    return _rank_topk(scored, k).select("query_id", "neighbor_id")


# --- exact-arith IVF k-NN graph ------------------------------------------


def ann_knn_graph_ivf_exact(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    nprobe: int = 6,
    iters: int = 3,
    dim: int = 64,
    centers=None,
) -> DataFrame:
    """Approximate k-NN graph via IVF where queries == corpus, every
    double SQL-reproducible: one assignment pass, per-vector nprobe
    probes, candidates scored inside a cogroup on the cluster key
    (both sides shuffle on cluster id — the correct shape when the
    query set IS the corpus), self-pairs excluded BY ID,
    exact per-dim-fold cosine, (cos DESC, id) rank. Still approximate
    (cross-cluster neighbors beyond the probes are missed) — recall
    rides along via with_recall_at_k at the query layer, hash-checked.

    Scoring runs as the numpy exact fold (see _exact_fold_gram): the
    per-pair arithmetic is bit-identical to dot_cols / DuckDB, the
    per-cluster block never materializes corpus*nprobe*dim candidate
    vectors (measured 3x faster than the staged JVM-expression
    pipeline, 25x faster than join-fused codegen). The cluster key is
    SALTED: a bare equi-join/cogroup on _cl has at most n_clusters
    distinct keys, serializing the fan-out onto n_clusters cores;
    probes salt by query-id hash, members replicate across the salt
    range, results are layout-invariant by exactness."""
    import numpy as np

    if centers is None:
        centers = fit_centroids_exact(
            corpus, n_clusters, iters, id_col, vec_col, "ivf", dim
        )
    cn = _unit(corpus, id_col, vec_col, "neighbor_id", dim,
               materialize=True)
    assigned = _assign_exact(cn, centers, dim, "neighbor_id")
    qn = cn.select(F.col("neighbor_id").alias("query_id"), "_u")
    probes = _query_probes_exact(qn, centers, nprobe, dim)
    salt_n = max(
        1,
        (2 * corpus.sparkSession.sparkContext.defaultParallelism)
        // max(1, n_clusters),
    )
    p_s = probes.withColumn(
        "_salt", F.pmod(F.xxhash64("query_id"), F.lit(salt_n)).cast("int")
    )
    a_s = assigned.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(s) for s in range(salt_n)])),
    )

    _k = k

    def cluster_scores(key, probes_pdf, members_pdf):
        import pandas as pd

        if len(probes_pdf) == 0 or len(members_pdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cos": []}
            )
        Q = np.stack(
            [np.asarray(v, dtype=np.float64) for v in probes_pdf["_qu"]]
        )
        C = np.stack(
            [np.asarray(v, dtype=np.float64) for v in members_pdf["_u"]]
        )
        qi = probes_pdf["query_id"].to_numpy(dtype=np.int64)
        ci = members_pdf["neighbor_id"].to_numpy(dtype=np.int64)
        cos = _exact_fold_gram(Q, C)
        out_q, out_c, out_s = [], [], []
        for i in range(len(qi)):
            keep = np.nonzero(ci != qi[i])[0]  # self excluded by id
            if len(keep) == 0:
                continue
            # local (cos DESC, id ASC) top-k preselection — the global
            # rank sees a superset of the true per-query top-k
            order = np.lexsort((ci[keep], -cos[i, keep]))[:_k]
            sel = keep[order]
            out_q.append(np.full(len(sel), qi[i]))
            out_c.append(ci[sel])
            out_s.append(cos[i, sel])
        if not out_q:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cos": []}
            )
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_c),
                "cos": np.concatenate(out_s),
            }
        )

    scored = (
        p_s.groupBy("_cl", "_salt")
        .cogroup(a_s.groupBy("_cl", "_salt"))
        .applyInPandas(
            cluster_scores, "query_id long, neighbor_id long, cos double"
        )
    )
    return _rank_topk(scored, k)


# --- exact-arith SemDeDup ------------------------------------------------


def semdedup_pairs_exact(
    corpus: DataFrame,
    threshold: float = 0.45,
    n_clusters: int = 8,
    n_assign: int = 2,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    centers=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) under the exact contract: vectors
    multi-assign to their n_assign nearest centroids (the recall knob),
    candidate pairs come from the bucketed self-join on cluster id
    (~N^2/k pair work, never all-pairs), and survivors are pairs with
    exact normalized-dot cosine >= threshold, deduped across shared
    clusters. Output: (id_a, id_b, cosine) with id_a < id_b."""
    if centers is None:
        centers = fit_centroids_exact(
            corpus, n_clusters, iters, id_col, vec_col, "ivf", dim
        )
    import numpy as np

    cn = _unit(corpus, id_col, vec_col, "_id", dim, materialize=True)
    # materialized: both cogroup sides read it — without the checkpoint
    # the probe pipeline (cross join + window) would evaluate twice
    multi = (
        _query_probes_exact(
            cn.withColumnRenamed("_id", "query_id"), centers, n_assign, dim
        )
        .select(F.col("query_id").alias("_id"), F.col("_qu").alias("_u"), "_cl")
        .localCheckpoint(eager=False)  # lazy (r15)
    )
    # cogroup-by-cluster scoring with the numpy exact fold — the same
    # plan + arithmetic contract as ann_knn_graph_ivf_exact (see the
    # _exact_fold_gram block comment for why not a JVM expression).
    # The a-side salts by id hash, the b-side replicates across the
    # salt range: a pair (x, y), x < y sharing a cluster meets exactly
    # once per shared cluster in group (cl, hash(x)); the groupBy
    # afterwards dedups pairs sharing BOTH probed clusters.
    salt_n = max(
        1,
        (2 * corpus.sparkSession.sparkContext.defaultParallelism)
        // max(1, n_clusters),
    )
    # distinct column names per side: a self-cogroup over one frame
    # would otherwise make every attribute reference ambiguous
    a = multi.select(
        F.col("_id").alias("id_a"),
        F.col("_u").alias("_ua"),
        F.col("_cl").alias("_cla"),
    ).withColumn(
        "_salta", F.pmod(F.xxhash64("id_a"), F.lit(salt_n)).cast("int")
    )
    b = multi.select(
        F.col("_id").alias("id_b"),
        F.col("_u").alias("_ub"),
        F.col("_cl").alias("_clb"),
    ).withColumn(
        "_saltb",
        F.explode(F.array(*[F.lit(s) for s in range(salt_n)])),
    )

    _thr = float(threshold)

    def cluster_pairs(key, a_pdf, b_pdf):
        import pandas as pd

        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "_cos": []})
        A = np.stack([np.asarray(v, dtype=np.float64) for v in a_pdf["_ua"]])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in b_pdf["_ub"]])
        ai = a_pdf["id_a"].to_numpy(dtype=np.int64)
        bi = b_pdf["id_b"].to_numpy(dtype=np.int64)
        cos = _exact_fold_gram(A, B)
        i, j = np.nonzero((ai[:, None] < bi[None, :]) & (cos >= _thr))
        return pd.DataFrame(
            {"id_a": ai[i], "id_b": bi[j], "_cos": cos[i, j]}
        )

    pairs_raw = (
        a.groupBy("_cla", "_salta")
        .cogroup(b.groupBy("_clb", "_saltb"))
        .applyInPandas(cluster_pairs, "id_a long, id_b long, _cos double")
    )
    pairs = (
        # a pair sharing BOTH probed clusters appears twice: dedup
        pairs_raw.groupBy("id_a", "id_b").agg(F.first("_cos").alias("_cos"))
    )
    return pairs.select(
        "id_a", "id_b", F.round("_cos", 6).alias("cosine")
    )


def cosine_pairs_exact_audit(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """AUDIT-SAMPLED exact threshold pairs for the SemDeDup recall
    gate: the ground-truth pair set restricted to pairs whose LARGER id
    passes :func:`similarity.audit_sample_pred` (md5-gated, 1/16) — so
    the exact pass costs |corpus| x |audited| fold-dots instead of the
    all-pairs O(N^2 d) blocked GEMM, and the oracle replays the same
    rule digit-for-digit. Cosine is the raw-vector fixed expression
    dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) in dot_cols order —
    bit-equal to DuckDB's list_dot_product arithmetic.

    Scale: the audited side rides the UDF closure (N/16 skinny rows);
    the corpus streams through once; the numpy per-dim fold (see
    _exact_fold_gram) is bit-identical to DuckDB's arithmetic."""
    import numpy as np

    from .similarity import audit_sample_pred

    spark = corpus.sparkSession
    bpdf = (
        corpus.filter(audit_sample_pred(F.col(id_col)))
        .select(
            F.col(id_col).alias("_bid"),
            as_double(F.col(vec_col)).alias("_bv"),
        )
        .orderBy("_bid")
        .toPandas()
    )
    if len(bpdf) == 0:
        return spark.createDataFrame([], "id_a long, id_b long")
    bids = bpdf["_bid"].to_numpy(dtype=np.int64)
    B = np.stack([np.asarray(v, dtype=np.float64) for v in bpdf["_bv"]])
    bn = _fold_norms(B)
    a = corpus.select(
        F.col(id_col).alias("_aid"), as_double(F.col(vec_col)).alias("_av")
    )

    def score(batches, _bids=bids, _B=B, _bn=bn, _thr=float(threshold)):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            aids = pdf["_aid"].to_numpy(dtype=np.int64)
            A = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_av"]])
            cos = _exact_fold_gram(A, _B) / np.multiply.outer(
                _fold_norms(A), _bn
            )
            i, j = np.nonzero((aids[:, None] < _bids[None, :]) & (cos >= _thr))
            yield pd.DataFrame({"id_a": aids[i], "id_b": _bids[j]})

    return a.mapInPandas(score, "id_a long, id_b long")


# --- exact-arith hyperplane LSH ------------------------------------------


def lsh_plane_weights_exact(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes derived from md5 — the
    engine computes them in Python, the oracle re-derives them in SQL
    from the SAME hex digits, so the buckets match digit-for-digit:
    weight(p, d) = (int(md5(f"{p}:{d}")[:4], 16) / 65536) * 2 - 1."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[:4], 16)
            / 65536.0
            * 2.0
            - 1.0
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def _lsh_bucket(
    frame: DataFrame, id_name: str, planes, dim: int
) -> DataFrame:
    """(id, _b, _u) bucket bits over a ``_unit`` frame — shared by the
    one-shot LSH search and the persisted-index builder so both paths
    are bit-equal by construction.

    Above DOT_UNROLL_MAX_DIM: Arrow-batched per-dim fold (the
    _exact_fold_gram family) — the sign of the left-fold dot is
    bit-identical to the SQL form, and at 768 dims the interpreted HOF
    fold measures ~3.7 us/element (PROFILE_r13); planes ship in the
    closure (num_planes x dim doubles — a few KB). At narrow dims the
    codegen'd SQL fold through the broadcast plane table keeps the
    plan JVM-pure."""
    from .similarity import DOT_UNROLL_MAX_DIM

    if dim > DOT_UNROLL_MAX_DIM:
        id_type = frame.schema[id_name].dataType.simpleString()

        def kern(batches, _planes=planes):
            import numpy as np
            import pandas as pd

            W = np.array(_planes, dtype=np.float64)
            for pd_batch in batches:
                if len(pd_batch) == 0:
                    continue
                # NULL _u (a NULL embedding through _unit) lands in
                # bucket 0 with _u NULL — exactly the SQL form
                # (when(NULL >= 0, bit).otherwise(0) sums to 0)
                mask = pd_batch["_u"].notna().to_numpy()
                bs = np.zeros(len(pd_batch), dtype=np.int64)
                us: list = [None] * len(pd_batch)
                if mask.any():
                    U = np.stack(
                        [
                            np.asarray(v, dtype=np.float64)
                            for v in pd_batch["_u"][mask]
                        ]
                    )
                    G = _exact_fold_gram(U, W)  # (n, num_planes)
                    b = (
                        (G >= 0).astype(np.int64)
                        * (1 << np.arange(W.shape[0], dtype=np.int64))
                    ).sum(axis=1)
                    idx = np.nonzero(mask)[0]
                    bs[idx] = b
                    for slot, u in zip(idx, U):
                        us[slot] = u
                yield pd.DataFrame(
                    {
                        id_name: pd_batch[id_name].values,
                        "_b": bs.astype("int32"),
                        "_u": us,
                    }
                )

        return frame.mapInPandas(
            kern, f"{id_name} {id_type}, _b int, _u array<double>"
        )
    pdf = F.broadcast(
        frame.sparkSession.createDataFrame(
            [(p, w) for p, w in enumerate(planes)],
            "_p int, _w array<double>",
        )
    )
    return (
        frame.crossJoin(pdf)
        .select(
            id_name,
            F.when(
                dot_cols(F.col("_u"), F.col("_w"), dim) >= 0,
                # shiftleft's python wrapper wants a literal count;
                # the SQL form takes the column
                F.expr("shiftleft(1, _p)"),
            )
            .otherwise(F.lit(0))
            .alias("_bit"),
        )
        .groupBy(id_name)
        .agg(F.sum("_bit").cast("int").alias("_b"))
        .join(frame, id_name)
    )


def ann_topk_lsh_exact(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    est_scored_rows: int | None = None,
) -> DataFrame:
    """Hyperplane-LSH ANN with multiprobe, every step replayable:
    bucket bit p = (dot(u, plane_p) >= 0), computed per (row, plane)
    through the broadcast plane table and OR-folded with one
    map-side-combinable sum of 2^p terms; each query probes its own
    bucket plus every Hamming-1 neighbor (flip one bit); candidates
    come from the bucket equi-join; exact normalized-dot cosine ranks
    the top-k. Data-independent (no fit) — lower recall than IVF on
    near-uniform vectors by design; the recall gate rides at the query
    layer."""
    from .similarity import DOT_UNROLL_MAX_DIM

    planes = lsh_plane_weights_exact(num_planes, dim)
    wide = dim > DOT_UNROLL_MAX_DIM

    def bucket(frame: DataFrame, id_name: str) -> DataFrame:
        return _lsh_bucket(frame, id_name, planes, dim)

    cu = _unit(corpus, id_col, vec_col, "neighbor_id", dim,
               materialize=True)
    qu = _unit(queries, id_col, vec_col, "query_id", dim, materialize=True)
    cn = bucket(cu, "neighbor_id")
    qn = bucket(qu, "query_id")
    # multiprobe: own bucket + flip each plane bit (Hamming-1)
    flips = F.array(
        F.col("_b"),
        *[
            F.col("_b").bitwiseXOR(F.lit(1 << p)).cast("int")
            for p in range(num_planes)
        ],
    )
    probes = qn.select(
        "query_id",
        F.col("_u").alias("_qu"),
        F.explode(flips).alias("_b"),
    )
    cand = cn.join(probes, "_b")
    if wide:
        qid_type = cand.schema["query_id"].dataType.simpleString()
        nid_type = cand.schema["neighbor_id"].dataType.simpleString()

        # pairwise per-dim fold across the candidate rows — the same
        # left-fold sequence, vectorized (see bucket() note); NULL
        # vectors score NULL like the SQL fold would
        def cos_kern(batches):
            import numpy as np
            import pandas as pd

            for pd_batch in batches:
                if len(pd_batch) == 0:
                    continue
                mask = (
                    pd_batch["_qu"].notna() & pd_batch["_u"].notna()
                ).to_numpy()
                cos: list = [None] * len(pd_batch)
                if mask.any():
                    Q = np.stack(
                        [np.asarray(v, dtype=np.float64)
                         for v in pd_batch["_qu"][mask]]
                    )
                    C = np.stack(
                        [np.asarray(v, dtype=np.float64)
                         for v in pd_batch["_u"][mask]]
                    )
                    acc = _exact_fold_pairwise(Q, C)
                    for slot, v in zip(np.nonzero(mask)[0], acc):
                        cos[slot] = float(v)
                yield pd.DataFrame(
                    {
                        "query_id": pd_batch["query_id"].values,
                        "neighbor_id": pd_batch["neighbor_id"].values,
                        "cos": cos,
                    }
                )

        scored = cand.select(
            "query_id", "neighbor_id", "_qu", "_u"
        ).mapInPandas(
            cos_kern,
            f"query_id {qid_type}, neighbor_id {nid_type}, cos double",
        )
    else:
        if est_scored_rows is None:
            # expected candidates under uniform buckets: each query
            # probes (num_planes + 1) of the 2^num_planes buckets
            est_scored_rows = _derive_est_scored_rows(
                cu, qu, num_planes + 1, 1 << num_planes
            )
        scored = cand.withColumn(
            "cos", dot_cols(F.col("_qu"), F.col("_u"), dim,
                            est_rows=est_scored_rows)
        )
    return _rank_topk(scored, k)


def build_lsh_index_exact(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 4,
    dim: int = 64,
) -> None:
    """Persist the bucketed NORMALIZED corpus partitioned by bucket
    (build once, probe many — opt r15, guide §1.2/§6). LSH needs no
    fit, but the per-run one-shot path still paid TWO full corpus
    passes per query run (normalize kernel + bucket kernel, both
    through the Python boundary at wide dims); the bucket bits and
    unit vectors are a pure function of the corpus bytes, so they
    belong in the same fingerprint-keyed store as the IVF/PQ indexes.
    Storing _u keeps the probe path bit-equal to the one-shot search
    by construction (same `_lsh_bucket` kernel writes the rows)."""
    cu = _unit(corpus, id_col, vec_col, "neighbor_id", dim,
               materialize=True)
    planes = lsh_plane_weights_exact(num_planes, dim)
    (
        _lsh_bucket(cu, "neighbor_id", planes, dim)
        .repartition("_b")
        .write.mode("overwrite")
        .partitionBy("_b")
        .parquet(os.path.join(path, "bucketed"))
    )


def query_lsh_index_exact(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    est_scored_rows: int | None = None,
) -> DataFrame:
    """Search the persisted LSH index: query bucket bits and the
    Hamming-1 multiprobe flips are derived DRIVER-SIDE from the
    collected normalized query vectors (|queries| rows — the engine's
    probe-list collect class) with the SAME left-fold arithmetic as
    the corpus kernel (`_exact_fold_gram` on float64 — bit-identical
    to the SQL fold, pinned in tests/test_emb768.py), the distinct
    probed buckets become a literal IN-filter on the partition column
    (FileScan PartitionFilters — only ~(num_planes+1)/2^num_planes of
    the index bytes are read), then fold-dot scoring + rank exactly
    like the one-shot path. Query ids must be unique (ValueError
    otherwise — see _collect_unit_queries)."""
    import numpy as np

    planes = lsh_plane_weights_exact(num_planes, dim)
    qpdf, qid_type = _collect_unit_queries(queries, id_col, vec_col, dim)
    W = np.array(planes, dtype=np.float64)
    probe_rows = []
    for qid, qu in zip(qpdf["query_id"], qpdf["_u"]):
        if qu is None:
            b = 0
            qu_list = None
        else:
            U = np.asarray(qu, dtype=np.float64)[None, :]
            G = _exact_fold_gram(U, W)[0]
            b = int(
                (
                    (G >= 0).astype(np.int64)
                    * (1 << np.arange(W.shape[0], dtype=np.int64))
                ).sum()
            )
            qu_list = [float(x) for x in U[0]]
        for bb in [b] + [b ^ (1 << p) for p in range(num_planes)]:
            probe_rows.append((qid, qu_list, bb))
    probes = spark.createDataFrame(
        probe_rows, f"query_id {qid_type}, _qu array<double>, _b int"
    )
    needed = sorted({r[2] for r in probe_rows})
    bucketed = (
        spark.read.parquet(os.path.join(path, "bucketed"))
        .filter(F.col("_b").isin(needed))
    )
    if est_scored_rows is None:
        corpus_rows = _parquet_num_rows(os.path.join(path, "bucketed"))
        if corpus_rows is not None:
            # |queries| is already on the driver (the probe collect) —
            # the estimate costs zero jobs here
            est_scored_rows = int(
                len(qpdf) * corpus_rows * (num_planes + 1)
                / (1 << num_planes)
            )
        else:
            est_scored_rows = _derive_est_scored_rows(
                bucketed.select("neighbor_id"),
                probes.select("query_id").distinct(),
                num_planes + 1, 1 << num_planes,
            )
    scored = fold_dot_frame(
        bucketed.join(F.broadcast(probes), "_b"),
        "_qu", "_u", ["query_id", "neighbor_id"],
        dim=dim, est_rows=est_scored_rows,
    )
    return _rank_topk(scored, k)
