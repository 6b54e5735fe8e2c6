"""Similarity search over embedding columns (BASELINE.json north star).

- brute_force_topk: exact cosine top-k for a query set — the correctness
  baseline. Query side is broadcast; candidates stream through one codegen
  stage; per-query top-k is a window row_number (Spark plans the global
  sort as TakeOrderedAndProject per partition key).
- ivf_topk: the scale path — k-means-free IVF using label centroids (or any
  coarse quantizer DataFrame of (cell_id, centroid)): assign every vector
  to its nearest cell once, then only search cells the query maps to
  (nprobe cells). Cuts candidate count by ~|cells|/nprobe at 100 TB while
  reusing the same exact kernel inside each cell.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectra_player_spark.functions.vectors import cosine, dot


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (excluding self).

    Round-11 kernel (guide §4.2 "hand whole batches to vectorized native
    code"): the pair scoring runs as one numpy matmul-shaped pass per
    Arrow batch of CANDIDATES instead of a broadcast join evaluating an
    interpreted zip_with/aggregate fold per pair — same 2× the A/B
    measured (1.36 → 0.71 s for 50×20k pairs at the 10× lake), and the
    join's per-pair array copying goes away entirely. The query set (by
    contract a bounded probe set — 5-50 vectors everywhere this engine
    calls it) is fetched once at plan-construction time, the same
    small-model-fetch class as the PQ codebook literal in pq_topk_adc.

    BIT-EXACTNESS (the VALUES pins and the DuckDB oracles hash the
    rounded scores): products are computed as float64(q_d) * float64(c_d)
    and accumulated STRICTLY left-to-right from 0.0 across dimensions —
    the identical IEEE operation sequence as the previous
    zip_with+aggregate fold (and DuckDB's list_dot_product over
    DOUBLE[]), so the raw doubles are identical bit-for-bit; rounding and
    the top-k window stay in Spark unchanged. Verified by collect-equality
    against the join form at the 10× lake and the full oracle sweep.

    Null/ragged semantics mirror the fold: a NULL vector on either side,
    a vector with a NULL element (the NULL product nulls the sum), or a
    LENGTH MISMATCH (zip_with null-pads the shorter side) yields a NULL
    cosine for that pair, which ranks below every scored neighbour — the
    pair row is still emitted, exactly as the join emitted it.

    Ids must be an integral type on both sides (a ValueError naming
    ``id_col`` is raised otherwise); query_id and neighbor_id come back
    as ``long``."""
    import numpy as np
    import pyarrow as pa

    for side, frame in (("queries", queries), ("candidates", candidates)):
        dt = frame.schema[id_col].dataType
        if not isinstance(dt, T.IntegralType):
            raise ValueError(
                f"brute_force_topk: id_col {id_col!r} of the {side} must be an "
                f"integral type, got {dt.simpleString()}"
            )

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = [r[0] for r in q_rows]
    q_vecs = [r[1] for r in q_rows]

    def _l2r_dot(Q64, C64):
        # strictly left-to-right accumulation from 0.0 per pair: the same
        # IEEE add sequence as aggregate(zip_with(a, b, (x, y) -> x*y),
        # 0.0D, (acc, x) -> acc + x)
        acc = np.zeros((Q64.shape[0], C64.shape[0]), dtype=np.float64)
        for d in range(Q64.shape[1]):
            acc += Q64[:, d : d + 1] * C64[None, :, d]
        return acc

    def _l2r_norm(M64):
        acc = np.zeros(M64.shape[0], dtype=np.float64)
        for d in range(M64.shape[1]):
            acc += M64[:, d] * M64[:, d]
        return np.sqrt(acc)

    # group scorable queries by vector length (pairs only score against
    # equal lengths; everything else is a NULL-sim pair)
    q_ok = [v is not None and None not in v for v in q_vecs]
    by_len: dict[int, list[int]] = {}
    for i, v in enumerate(q_vecs):
        if q_ok[i]:
            by_len.setdefault(len(v), []).append(i)
    groups = {}
    for length, idxs in by_len.items():
        Q64 = np.array([q_vecs[i] for i in idxs], dtype=np.float64)
        groups[length] = (
            np.array([q_ids[i] for i in idxs], dtype=np.int64),
            Q64,
            _l2r_norm(Q64),
        )
    all_qids = np.array(q_ids, dtype=np.int64)

    def _score_batches(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            vec_arr = batch.column(1)
            vecs = vec_arr.to_pylist()
            # one counter read per batch: only a batch holding a NULL
            # element pays the per-vector scan
            elem_nulls = vec_arr.values.null_count > 0
            out_q, out_n, out_s = [], [], []

            def emit(qq, nn, ss):
                mask = qq != nn  # self-pairs were excluded by the join
                out_q.append(qq[mask])
                out_n.append(nn[mask])
                out_s.append(ss[mask])

            cand_by_len: dict[int, list[int]] = {}
            bad: list[int] = []
            for j, v in enumerate(vecs):
                if v is None or (elem_nulls and None in v):
                    bad.append(j)
                else:
                    cand_by_len.setdefault(len(v), []).append(j)
            for length, jdx in cand_by_len.items():
                cid = ids[np.asarray(jdx)]
                C64 = np.array([vecs[j] for j in jdx], dtype=np.float64)
                if length in groups:
                    qid, Q64, qn = groups[length]
                    cn = _l2r_norm(C64)
                    dots = _l2r_dot(Q64, C64)
                    denom = qn[:, None] * cn[None, :]
                    with np.errstate(divide="ignore", invalid="ignore"):
                        cos = dots / denom
                    sims = cos.ravel().astype(object)
                    sims[(denom == 0).ravel()] = None  # nullif(q_norm*c_norm, 0)
                    emit(
                        np.repeat(qid, len(jdx)),
                        np.tile(cid, len(qid)),
                        sims,
                    )
                # pairs against queries of a DIFFERENT length (or null
                # queries): null sim, same as the fold
                other = [
                    i
                    for i, v in enumerate(q_vecs)
                    if not q_ok[i] or len(v) != length
                ]
                if other:
                    oq = np.array([q_ids[i] for i in other], dtype=np.int64)
                    emit(
                        np.repeat(oq, len(jdx)),
                        np.tile(cid, len(oq)),
                        np.full(len(oq) * len(jdx), None, dtype=object),
                    )
            if bad and len(all_qids):
                bid = ids[np.asarray(bad)]
                emit(
                    np.repeat(all_qids, len(bad)),
                    np.tile(bid, len(all_qids)),
                    np.full(len(all_qids) * len(bad), None, dtype=object),
                )
            if out_q:
                yield pa.record_batch(
                    [
                        pa.array(np.concatenate(out_q), type=pa.int64()),
                        pa.array(np.concatenate(out_n), type=pa.int64()),
                        pa.array(np.concatenate(out_s), type=pa.float64()),
                    ],
                    names=["query_id", "neighbor_id", "_raw_sim"],
                )

    scored = candidates.select(
        F.col(id_col).cast("long"), F.col(vec_col)
    ).mapInArrow(
        _score_batches, "query_id long, neighbor_id long, _raw_sim double"
    ).select(
        "query_id",
        "neighbor_id",
        F.round("_raw_sim", 6).alias("cosine_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def recall_at_k(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Mean per-query recall of an approximate top-k result vs the exact
    one: |approx ∩ exact| / |exact| per query, averaged. Both inputs are
    (query_id, neighbor_id, ...) frames from *_topk."""
    hits = approx.select("query_id", "neighbor_id").withColumn("hit", F.lit(1))
    per_q = (
        exact.select("query_id", "neighbor_id")
        .join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.avg(F.coalesce("hit", F.lit(0))).alias("recall"))
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("recall"), 6).alias("mean_recall"),
        F.round(F.min("recall"), 6).alias("min_recall"),
    )


def _lloyd_deterministic(
    vectors: DataFrame,
    m: int,
    n_codes: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 8,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """Deterministic distributed Lloyd over m independent subspaces
    (m=1 → plain k-means). Bit-identical output regardless of partition
    count, core count, or task completion order — the property Spark ML's
    KMeans cannot give (its center updates sum doubles in task-completion
    order, so local[8] and local[32] can diverge in the last bit and, near
    assignment ties, in the resulting model). Reproducible index builds
    are what let a 100 TB deployment rebuild a coarse quantizer on a
    different cluster topology and serve identical ANN answers.

    Determinism by construction:
    - init: the n_codes vectors with the smallest ids (a total order on
      data, not on topology);
    - sampling (optional): an md5-coin on the id — the same rows are
      chosen under any partitioning, unlike DataFrame.sample whose
      per-partition RNG streams reshuffle with the split;
    - assignment: per-row double arithmetic with ties broken to the
      lowest code id (array_position of array_min);
    - center update: per-(subspace, code, dim) sums accumulate in exact
      DECIMAL(38,15) — associative and commutative, so shuffle order is
      irrelevant — and the mean divides driver-side in decimal.

    All m subspaces train in ONE job per iteration: assign codes for
    every subspace in a single codegen projection, stack the (subspace,
    code, subvector) triples, posexplode, and hash-aggregate — map-side
    partial combine keeps the shuffle at m·n_codes·d rows per partition.
    Returns codebook[m][n_codes][d]."""
    base = vectors.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    if sample_fraction is not None and sample_fraction < 1.0:
        coin = F.conv(F.substring(F.md5(F.col("_id").cast("string")), 1, 8), 16, 10)
        base = base.where(
            coin.cast("bigint") % 1_000_000 < int(sample_fraction * 1_000_000)
        )
    # The training set is read max_iter+1 times (init + one assignment pass
    # per iteration). Materialize it ONCE — with a sample cap the refit
    # cost is then bounded by the cap, not by lake size (the round-8
    # quantizer-refresh contract): localCheckpoint both cuts the lineage
    # back to the lake scan and caches the sampled rows, so iterations 2..N
    # never touch lake files. Values are unchanged — checkpointing is pure
    # materialization.
    base = base.localCheckpoint(eager=True)
    first = sorted(
        base.orderBy("_id").limit(n_codes).collect(), key=lambda r: r["_id"]
    )
    if not first:
        return [[] for _ in range(m)]
    dim = len(first[0]["_v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    books = [
        [list(r["_v"][j * d : (j + 1) * d]) for r in first] for j in range(m)
    ]
    for _ in range(max_iter):
        dist_cols, code_cols = [], []
        for j, bj in enumerate(books):
            sub = f"slice(_v, {j * d + 1}, {d})"
            dists = (
                f"transform({_arr_lit(bj)}, c -> "
                f"aggregate(zip_with({sub}, c, (x, y) -> (x - y) * (x - y)), "
                "0.0D, (a, t) -> a + t))"
            )
            dist_cols.append(F.expr(dists).alias(f"_d{j}"))
            code_cols.append(
                F.expr(
                    f"CAST(array_position(_d{j}, array_min(_d{j})) AS INT) - 1"
                ).alias(f"_c{j}")
            )
        assigned = base.select("_v", *dist_cols).select("_v", *code_cols)
        stacked = assigned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.col(f"_c{j}").alias("code"),
                            F.expr(f"slice(_v, {j * d + 1}, {d})").alias("sub"),
                        )
                        for j in range(m)
                    ]
                )
            ).alias("s")
        ).select("s.j", "s.code", F.posexplode("s.sub").alias("pos", "x"))
        sums = (
            stacked.groupBy("j", "code", "pos")
            .agg(
                F.sum(F.col("x").cast("decimal(38,15)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new = [[list(c) for c in bj] for bj in books]
        for r in sums:
            # empty codes keep their previous centroid (no r rows for them)
            new[r["j"]][r["code"]][r["pos"]] = float(r["s"] / r["n"])
        if new == books:
            break
        books = new
    return books


def kmeans_deterministic(
    vectors: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 8,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Coarse quantizer for IVF with reproducible output (see
    _lloyd_deterministic): same (cell_id, centroid) frame under any
    partitioning/core count — the property that makes the ANN recall
    queries VALUES-pinnable for the driver's hash compare.

    ``sample_fraction`` caps the TRAINING set (md5-coin on the id, so the
    sample itself is partition-invariant): at lake scale the quantizer is
    a corpus statistic whose rebuild-on-change contract (sigstore) would
    otherwise refit on the full lake — 16 centroids converge on a bounded
    sample long before the corpus is seen. Assignment stays full-corpus;
    only the model fit is sampled (the PQ codebook discipline)."""
    books = _lloyd_deterministic(
        vectors, 1, n_cells, vec_col, id_col, max_iter, sample_fraction
    )
    return vectors.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(books[0])],
        "cell_id int, centroid array<double>",
    )


def pq_train_deterministic(
    vectors: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 8,
    sample_fraction: float | None = None,
) -> list[list[list[float]]]:
    """PQ codebooks with reproducible output; all m subspaces train
    jointly in ONE job per iteration (a per-subspace Spark ML fit would
    be m sequential jobs per iteration, and Spark ML's float
    task-completion-order center sums are topology-dependent — see
    _lloyd_deterministic). Sampling, when requested, is an id-keyed
    md5-coin so the training set itself is partition-invariant."""
    return _lloyd_deterministic(
        vectors, m, n_codes, vec_col, id_col, max_iter, sample_fraction
    )


def _arr_lit(vals) -> str:
    if isinstance(vals[0], (list, tuple)):
        return "array(" + ",".join(_arr_lit(v) for v in vals) + ")"
    return "array(" + ",".join(repr(float(v)) for v in vals) + ")"


def pq_encode(
    vectors: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>, vhat_norm): per-subspace nearest-codeword
    assignment, entirely map-side — the codebook inlines as literal arrays
    into one whole-stage-codegen projection: per-subspace distance array
    via ``transform`` over the expanded form ‖s−c‖² = ‖s‖² − 2s·c + ‖c‖²
    (the ‖s‖² term is code-invariant and drops out), then argmin as
    array_min + first array_position (ties resolve to the lowest code id;
    the equality compares the identical computed double, so it's exact).
    Encoding shuffles NOTHING at any scale.

    Deliberately HOF-based, not unrolled: fully unrolling the m·n_codes·d
    multiply-adds into literal scalar expressions measured ~4× faster on
    executors but the resulting plan + generated code exhausted a
    default-memory (1 g) driver — the driver harness's session must
    survive, so the small-tree form wins. vhat_norm = ‖decoded vector‖
    (subspace norms concatenate) is stored so ADC never reconstructs."""
    m = len(codebook)
    d = len(codebook[0][0])
    v = f"CAST({vec_col} AS ARRAY<DOUBLE>)"
    code_cols = []
    for j in range(m):
        # Per code c: -2·(s·c) + ‖c‖², with ‖c‖² precomputed driver-side
        # and zipped alongside the centroid (struct of vec + sq).
        cb_structs = "array(" + ",".join(
            f"named_struct('v', {_arr_lit(c)}, 'sq', {float(sum(x * x for x in c))!r}D)"
            for c in codebook[j]
        ) + ")"
        sub = f"slice({v}, {j * d + 1}, {d})"
        dists = (
            f"transform({cb_structs}, cc -> "
            f"-2.0D * aggregate(zip_with({sub}, cc.v, (x, y) -> x * y), "
            "0.0D, (a, t) -> a + t) + cc.sq)"
        )
        argmin = f"CAST(array_position(_d{j}, array_min(_d{j})) AS INT) - 1"
        code_cols.append((F.expr(dists).alias(f"_d{j}"), F.expr(argmin).alias(f"_c{j}")))
    coded = vectors.select(
        F.col(id_col), *[dc[0] for dc in code_cols]
    ).select(F.col(id_col), *[dc[1] for dc in code_cols])
    sq = [
        [sum(x * x for x in c) for c in codebook[j]] for j in range(m)
    ]  # ‖centroid‖² lookup per (subspace, code)
    norm_expr = " + ".join(
        f"element_at({_arr_lit(sq[j])}, _c{j} + 1)" for j in range(m)
    )
    return coded.select(
        F.col(id_col),
        F.array(*[F.col(f"_c{j}") for j in range(m)]).alias("codes"),
        F.expr(f"sqrt({norm_expr})").alias("vhat_norm"),
    )


def pq_topk_adc(
    queries: DataFrame,
    codes: DataFrame,
    codebook: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k by asymmetric distance: candidates exist ONLY as
    m-byte code arrays (the 100 TB win — a 64-dim float vector compresses
    32×), queries stay exact. cos(q, v) ≈ Σⱼ q_subⱼ·codebook[j][codeⱼ] /
    (‖q‖·‖v̂‖).

    This is the classic ADC split mapped onto the plan: each query row
    precomputes its m lookup tables (q_subⱼ · every codeword — unrolled
    literal-coefficient arithmetic, n_codes·D mults per QUERY) BEFORE the
    broadcast join, so the per-pair cost after the join is m array
    lookups + one divide — the data-sized stage touches only the code
    column. One broadcast join, one window for per-query top-k."""
    from vectra_player_spark.functions.vectors import norm

    m = len(codebook)
    d = len(codebook[0][0])
    qv = "CAST(q_vec AS ARRAY<DOUBLE>)"
    # Lookup tables build per QUERY row (n_codes·D multiply-adds each, on
    # the tiny broadcast side) — HOF trees keep the plan driver-safe; the
    # per-element lambda cost is irrelevant at query-set cardinality.
    tbl_cols = [
        F.expr(
            f"transform({_arr_lit(codebook[j])}, cc -> "
            f"aggregate(zip_with(slice({qv}, {j * d + 1}, {d}), cc, "
            "(x, y) -> x * y), 0.0D, (a, t) -> a + t))"
        ).alias(f"_t{j}")
        for j in range(m)
    ]
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("q_vec"),
        norm(vec_col).alias("q_norm"),
    ).select("query_id", "q_norm", *tbl_cols)
    lookup = " + ".join(
        f"element_at(_t{j}, element_at(codes, {j + 1}) + 1)" for j in range(m)
    )
    sim = F.expr(f"({lookup})") / F.nullif(
        F.col("q_norm") * F.col("vhat_norm"), F.lit(0.0)
    )
    scored = (
        F.broadcast(q)
        .join(codes.withColumnRenamed(id_col, "neighbor_id"), F.lit(True))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(sim, 6).alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def ivfpq_topk(
    queries: DataFrame,
    centroids: DataFrame,
    assignments: DataFrame,
    codes: DataFrame,
    codebook: list[list[list[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ composed search — the classic inverted-file ADC layout
    (FAISS IVFPQ; Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011): the coarse quantizer routes each
    query to its ``nprobe`` nearest cells, and ONLY those cells'
    PQ codes are ADC-scored. The data-sized stage therefore touches
    ~nprobe/n_cells of a table that is itself 32× compressed — the
    two stores' savings multiply, which is the shape a 100 TB ANN
    serving job actually runs.

    All inputs are the persisted index relations (operators/sigstore):
    ``centroids`` (cell_id, centroid), ``assignments`` (id, cell_id),
    ``codes`` (id, codes, vhat_norm), plus the loaded ``codebook``.
    Per-pair scores are identical to pq_topk_adc (same lookup-table
    expressions); the candidate set is the IVF restriction. Queries
    stay exact; one broadcast join on cell_id; one window for top-k.
    Deterministic end to end (both quantizers are the deterministic
    Lloyd's; ties break to the lowest neighbor id)."""
    from vectra_player_spark.functions.vectors import norm

    m = len(codebook)
    d = len(codebook[0][0])
    qv = "CAST(q_vec AS ARRAY<DOUBLE>)"
    tbl_cols = [
        F.expr(
            f"transform({_arr_lit(codebook[j])}, cc -> "
            f"aggregate(zip_with(slice({qv}, {j * d + 1}, {d}), cc, "
            "(x, y) -> x * y), 0.0D, (a, t) -> a + t))"
        ).alias(f"_t{j}")
        for j in range(m)
    ]
    q_scored = queries.join(F.broadcast(centroids), F.lit(True)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("cell_id"),
        cosine(vec_col, "centroid").alias("_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("cell_id"))
    q_cells = (
        q_scored.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= nprobe)
        .select(
            "query_id",
            F.col("q_vec"),
            norm("q_vec").alias("q_norm"),
            "cell_id",
        )
        .select("query_id", "q_norm", "cell_id", *tbl_cols)
    )
    cand = codes.join(assignments.select(id_col, "cell_id"), id_col).select(
        F.col(id_col).alias("neighbor_id"), "codes", "vhat_norm", "cell_id"
    )
    lookup = " + ".join(
        f"element_at(_t{j}, element_at(codes, {j + 1}) + 1)" for j in range(m)
    )
    sim = F.expr(f"({lookup})") / F.nullif(
        F.col("q_norm") * F.col("vhat_norm"), F.lit(0.0)
    )
    scored = (
        F.broadcast(q_cells)
        .join(cand, "cell_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", F.round(sim, 6).alias("cosine_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell_id",
    centroid_col: str = "centroid",
) -> DataFrame:
    """IVF assignment: nearest centroid per vector (broadcast centroids)."""
    scored = vectors.join(F.broadcast(centroids), F.lit(True)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col(cell_col),
        cosine(vec_col, centroid_col).alias("_sim"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_sim"), F.asc(cell_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(id_col, vec_col, cell_col)
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignments: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: search only the nprobe nearest cells per query.

    ``assignments``: optional precomputed (id_col, cell_id) relation —
    the persisted IVF store's member table (operators/sigstore). The
    assignment is a pure function of (vector, centroids), so when an
    ingest-time store built on the SAME centroids provides it, the query
    replaces the n_cells-cosines-per-candidate + per-id window with one
    narrow equi-join — the data-sized stage the index exists to remove.
    Values identical by construction; without it the query assigns
    inline (the direct arm)."""
    if assignments is not None:
        cand_cells = candidates.select(id_col, vec_col).join(
            assignments.select(id_col, "cell_id"), id_col
        )
    else:
        cand_cells = assign_cells(candidates, centroids, id_col, vec_col)
    q_scored = queries.join(F.broadcast(centroids), F.lit(True)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("cell_id"),
        cosine(vec_col, "centroid").alias("_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("_sim"), F.asc("cell_id"))
    q_cells = (
        q_scored.withColumn("_rn", F.row_number().over(wq))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "q_vec", "cell_id")
    )
    scored = (
        F.broadcast(q_cells)
        .join(
            cand_cells.withColumnRenamed(id_col, "neighbor_id").withColumnRenamed(
                vec_col, "c_vec"
            ),
            "cell_id",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine("q_vec", "c_vec"), 6).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "rank")
    )
