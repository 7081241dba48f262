"""Similarity search over embedding columns (``array<float>``).

Six tiers, trading recall for cost (the FAISS index family,
re-expressed as DataFrame plans):

- ``cosine_topk``: brute-force exact top-k. The query set is small and
  broadcast; the corpus is scanned once, linearly, with all vector
  math in JVM codegen (`zip_with`/`aggregate`) — at 100 TB this is a
  single map stage + a top-k-per-query aggregation (no global sort).
- ``sq8_topk``: int8 scalar-quantized coarse scan (~4× smaller corpus)
  + exact-cosine rescoring of the shortlist — final scores are never
  approximate.
- ``pq_topk``: product quantization (IndexPQ) — codegen ADC over the
  code table (m array lookups per row, float vectors untouched), then
  exact rescore of the shortlist.
- ``lsh_topk``: random-hyperplane LSH — sign-bit bucket equi-join
  prunes the corpus to same/near buckets before exact scoring.
- ``ivf_topk``: IVF — a k-means coarse quantizer (trained
  DataFrame-side) prunes to the ``nprobe`` nearest centroid cells;
  ``metric="l2"|"cosine"`` picks the coarse distance.
- ``ivfpq_topk``: IVF+PQ (IndexIVFPQ) — nprobe cell pruning, then ADC
  over product-quantized RESIDUALS within the probed cells, then
  exact rescore.

Every quantized/approximate tier rescores its shortlist against
full-precision vectors, so approximation can cost recall at the cut
but never wrong final scores. Deterministic everywhere: fixed seeds,
ties broken by (score desc, id asc).
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from aws_data_wrangler_spark.functions import trunc_digits

# Shared Lloyd-iteration default for every inline k-means training path
# (train_ivf_centroids, train_pq_codebooks, ivf_topk, ivfpq_topk) — one
# constant so the tiers can't silently drift apart.
DEFAULT_LLOYD_ITERATIONS = 5


def _l2_norm(vec: "F.Column") -> "F.Column":
    return F.sqrt(F.aggregate(F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))


def _with_norm(
    df: DataFrame, id_col: str, vec_col: str, prefix: str, keep=()
) -> DataFrame:
    vec = F.col(vec_col).cast("array<double>")
    return df.select(
        F.col(id_col).alias(f"{prefix}_id"),
        vec.alias(f"{prefix}_vec"),
        _l2_norm(vec).alias(f"{prefix}_norm"),
        *[F.col(c) for c in keep],
    )


def _cosine(a_vec: str, b_vec: str, a_norm: str, b_norm: str) -> "F.Column":
    return _dot_expr(F.col(a_vec), F.col(b_vec)) / (F.col(a_norm) * F.col(b_norm))


def _top_k(
    scored: DataFrame, score: str, k: int, cols=None, ascending: bool = False
) -> DataFrame:
    """The rank tail every search tier shares: per query, ``rank`` =
    row_number by (``score`` desc — asc with ``ascending`` —,
    neighbor_id asc), rows with rank ≤ ``k``, projected to ``cols``
    (default: query_id, neighbor_id, rank, score)."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    window = Window.partitionBy("query_id").orderBy(order, F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(window))
        .filter(F.col("rank") <= k)
        .select(*(cols or ("query_id", "neighbor_id", "rank", score)))
    )


def _rescore(
    approx: DataFrame, n: int, vecs: DataFrame, queries: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Shortlist → exact rescore, shared by every quantized tier: each
    query's ``n`` best ``approx_cosine`` candidates meet their
    full-precision vectors (``vecs``: c_id, c_vec, c_norm) and the
    broadcast query vectors, and score exact cosine —
    (query_id, neighbor_id, cosine). Quantization error can cost recall
    at the cut, never a wrong final score."""
    shortlist = _top_k(approx, "approx_cosine", n, cols=("query_id", "neighbor_id"))
    q = F.broadcast(_with_norm(queries, id_col, vec_col, "q"))
    return (
        shortlist.join(vecs, shortlist.neighbor_id == vecs.c_id)
        .join(q, shortlist.query_id == F.col("q_id"))
        .select(
            "query_id",
            "neighbor_id",
            trunc_digits(_cosine("q_vec", "c_vec", "q_norm", "c_norm")).alias("cosine"),
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector:
    (query_id, neighbor_id, rank, cosine). Excludes self-matches.

    The query side is broadcast (small); per-query top-k is a window
    over the scored scan — with AQE this is the canonical
    "broadcast-nested-loop + partial top-k" plan.
    """
    q = F.broadcast(_with_norm(queries, id_col, vec_col, "q"))
    c = _with_norm(corpus, id_col, vec_col, "c")
    scored = (
        c.crossJoin(q)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            trunc_digits(_cosine("q_vec", "c_vec", "q_norm", "c_norm")).alias("cosine"),
        )
    )
    return _top_k(scored, "cosine", k)


def metric_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    metric: str = "l2",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k under the OTHER two FAISS metrics —
    ``metric="l2"`` (squared Euclidean, ascending; FAISS
    METRIC_L2's convention of not taking the root) or ``"ip"``
    (inner product, descending; the MIPS objective of recommender
    retrieval): (query_id, neighbor_id, rank, score). The cosine
    family lives in ``cosine_topk``; this completes the metric
    surface so un-normalized embeddings search correctly — cosine on
    magnitude-meaningful vectors silently discards the magnitude.

    Same plan as cosine_topk: broadcast query side, one corpus scan,
    per-query partial top-k window. The L2 fold is the
    numerically-stable single pass Σ(x−y)² (one zip_with — never
    ‖x‖²+‖y‖²−2·x·y, whose cancellation loses precision at close
    pairs); both folds are sequential left-to-right IEEE chains a
    second engine replicates term-for-term.
    """
    if metric not in ("l2", "ip"):
        raise ValueError(f"metric must be 'l2' or 'ip', got {metric!r}")
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).cast("array<double>").alias("q_vec"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).cast("array<double>").alias("c_vec"),
    )
    if metric == "l2":
        score = _l2_sq(F.col("q_vec"), F.col("c_vec"))
    else:
        score = _dot_expr(F.col("q_vec"), F.col("c_vec"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            trunc_digits(score).alias("score"),
        )
        # a dimension-mismatched pair scores NULL (zip_with pads the
        # shorter array with nulls) — and Spark's ascending sort puts
        # NULLS FIRST, so without this filter a single truncated corpus
        # vector would occupy rank 1 of EVERY l2 query's top-k
        .filter(F.col("score").isNotNull())
    )
    return _top_k(scored, "score", k, ascending=metric == "l2")


def cosine_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force top-k via Arrow-batched numpy matmul.

    Same semantics as ``cosine_topk``; the scoring runs as a BLAS
    matrix product per Arrow batch instead of per-element codegen.
    For dense embedding workloads this is the rare case where the
    pandas-UDF path beats built-in expressions — the work is a dense
    GEMM, which BLAS does orders of magnitude better than row-wise
    expression evaluation. The query matrix is collected once
    (queries are small by contract) and closed over; the corpus
    streams through mapInPandas partition-parallel. Per-batch partial
    top-k keeps the shuffle at O(#queries × k × #batches).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[1] for r in q_rows], dtype=np.float64)
    q_norm = np.linalg.norm(q_mat, axis=1)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def kernel(batches):
        for batch in batches:
            c_ids = batch[id_col].to_numpy(dtype=np.int64)
            c_mat = np.array(list(batch[vec_col]), dtype=np.float64)
            if len(c_ids) == 0:
                continue
            c_norm = np.linalg.norm(c_mat, axis=1)
            scores = (q_mat @ c_mat.T) / (q_norm[:, None] * c_norm[None, :])
            scores = np.floor(scores * 1e6) / 1e6  # trunc_digits convention
            for qi, qid in enumerate(q_ids):
                row = scores[qi]
                mask = c_ids != qid
                ids, vals = c_ids[mask], row[mask]
                if len(ids) > k:  # partial top-k per batch
                    part = np.argpartition(-vals, k)[: k * 2]
                    ids, vals = ids[part], vals[part]
                yield pd.DataFrame(
                    {"query_id": qid, "neighbor_id": ids, "cosine": vals}
                )

    scored = corpus.select(id_col, vec_col).mapInPandas(kernel, out_schema)
    return _top_k(scored, "cosine", k)


# ---------------------------------------------------------------------------
# Zero-shuffle nearest-centroid assignment.
#
# The centroid table is a tiny driver-side artifact (bounded: the
# IVF/SemDeDup regime caps flat assignment at ~1e5 cells). Shipping it
# into the plan as ONE nested-array Literal — not a per-centroid
# CreateArray tree, so the expression stays O(1) in cell count — lets
# every row compute its distance array and argmin inside the same
# Project: no crossJoin, no per-row-keyed window, no Exchange between
# the scan and the cell id. The previous shape
# (``points.crossJoin(broadcast(cents))`` + ``row_number() over
# partitionBy(row_id)``) shuffled n×k rows on a corpus-cardinality key
# just to pick each row's argmin — at 100 TB with k=4096 cells that is
# a 4096×-corpus shuffle inside what should be a map stage.
# ---------------------------------------------------------------------------


def _nested_lit(value, dtype: str) -> "F.Column":
    """A (nested-)array constant as ONE plan literal. PySpark's
    ``F.lit`` on a Python list builds a per-element CreateArray tree
    through py4j — O(k·dim) driver round-trips per use site (~143 s at
    4096×64) — so ship the value as a single JSON string and let
    Catalyst's constant folding collapse ``from_json`` of a foldable
    input into one Literal at optimization time. Doubles round-trip
    exactly (shortest-repr serialize ↔ nearest-double parse), the same
    contract the persisted-codebook JSON artifacts rely on."""
    import json

    return F.from_json(F.lit(json.dumps(value)), dtype)


def collect_centroids(
    centroids: DataFrame, max_cells: int = 100_000
) -> tuple:
    """Centroid table (cid, cvec) → driver-side ``(ids, vectors)``,
    sorted by cid so first-occurrence argmin ties resolve to the
    lowest cid (the documented tie-break). Guarded: past ``max_cells``
    a flat literal stops being a sane plan constant — assign via the
    two-level coarse quantizer (``assign_cells`` and ``dedup.semdedup``
    route there automatically) or pre-partition by cell."""
    rows = centroids.select("cid", "cvec").collect()
    if len(rows) > max_cells:
        raise ValueError(
            f"centroid table exceeds the flat-literal assignment bound "
            f"({max_cells}); assign via a two-level coarse quantizer "
            f"(assign_cells routes there automatically), raise max_cells "
            f"explicitly, or pre-partition the corpus by cell "
            f"(build_partitioned_ivf)."
        )
    pairs = sorted((int(r["cid"]), [float(x) for x in r["cvec"]]) for r in rows)
    return [c for c, _ in pairs], [v for _, v in pairs]


def _l2_sq(vec_expr: "F.Column", cent: "F.Column") -> "F.Column":
    return F.aggregate(
        F.zip_with(vec_expr, cent, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda a, x: a + x,
    )


def _dot_expr(vec_expr: "F.Column", cent: "F.Column") -> "F.Column":
    return F.aggregate(
        F.zip_with(vec_expr, cent, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )


def _argmin(keys: "F.Column") -> "F.Column":
    """1-based position of the smallest key; ties → the first one."""
    return F.array_position(keys, F.array_min(keys)).cast("int")


def _cell_key(vec_expr: "F.Column", cent: "F.Column", metric: str, norm_expr) -> "F.Column":
    """Ranking key of a vector against ONE centroid vector (ascending =
    better): squared L2, or negated cosine for ``metric='cosine'``."""
    if metric == "cosine":
        return -(_dot_expr(vec_expr, cent) / (norm_expr * _l2_norm(cent)))
    return _l2_sq(vec_expr, cent)


def cell_key_array(
    vec_expr: "F.Column",
    cent_vecs: Sequence[Sequence[float]],
    metric: str = "l2",
    norm_expr: Optional["F.Column"] = None,
) -> "F.Column":
    """Per-cell ranking keys as ONE array column (ascending = better):
    squared-L2 distances, or negated cosine for ``metric='cosine'``
    (negation is exact in IEEE doubles, so ``-key`` recovers the
    cosine bit-for-bit). One Literal + one ``transform`` — a pure
    projection regardless of cell count."""
    cents_lit = _nested_lit([[float(x) for x in v] for v in cent_vecs], "array<array<double>>")
    return F.transform(cents_lit, lambda cv: _cell_key(vec_expr, cv, metric, norm_expr))


def probe_cells(
    keys: "F.Column",
    num_cells: int,
    nprobe: int,
) -> "F.Column":
    """The ``nprobe`` best cells as ``array<struct<k,p>>`` (best first,
    ties → lowest position = lowest cid; ``p`` is the 1-based index
    into the sorted centroid literal). Pure projection: zip the key
    array with positions, ``array_sort`` (struct order = key asc then
    position asc), slice."""
    pos_lit = _nested_lit(list(range(1, num_cells + 1)), "array<int>")
    ranked = F.array_sort(
        F.zip_with(keys, pos_lit, lambda d, p: F.struct(d.alias("k"), p.alias("p")))
    )
    return F.slice(ranked, 1, nprobe)


# The largest flat centroid literal a plan ships, in doubles (≈ 32 MB);
# past it — or past ``max_cells`` cells — assignment goes two-level.
_FLAT_LITERAL_DOUBLES = 4_000_000


def _flat_assign(
    df: DataFrame,
    keep,
    cent_ids,
    cent_vecs,
    vec: "F.Column",
    norm: Optional["F.Column"] = None,
    metric: str = "l2",
    key: bool = False,
    residual: bool = False,
) -> DataFrame:
    """THE nearest-cell assignment (literal argmin, ties → lowest cid)
    as one shuffle-free Project over ``df``: the ``keep`` columns, then
    ``cid``, then — on request — the winning ``key`` and the
    ``residual`` (vector − its centroid)."""
    pos = F.col("__pos")
    out = [F.element_at(_nested_lit(cent_ids, "array<int>"), pos).alias("cid")]
    if key:
        out.append(F.element_at(F.col("__keys"), pos).alias("key"))
    if residual:
        cents_lit = _nested_lit(cent_vecs, "array<array<double>>")
        out.append(
            F.zip_with(vec, F.element_at(cents_lit, pos), lambda x, y: x - y).alias("residual")
        )
    return (
        df.withColumn("__keys", cell_key_array(vec, cent_vecs, metric=metric, norm_expr=norm))
        .withColumn("__pos", _argmin(F.col("__keys")))
        .select(*keep, *out)
    )


def _nearest_cells(
    df: DataFrame,
    keep,
    vec: "F.Column",
    norm: "F.Column",
    metric: str,
    centroids: Optional[DataFrame] = None,
    cent_lists: Optional[tuple] = None,
    max_cells: int = 100_000,
) -> DataFrame:
    """The one flat-vs-two-level routing rule (``assign_cells`` states
    it): ``keep`` columns + (cid, key), from a centroid table or from
    already-collected ``cent_lists``."""
    if cent_lists is None and centroids.count() <= max_cells:  # artifact-sized
        cent_lists = collect_centroids(centroids, max_cells=max_cells)
    if cent_lists is not None:
        ids, vecs = cent_lists
        if len(ids) <= max_cells and len(ids) * len(vecs[0] if vecs else ()) <= _FLAT_LITERAL_DOUBLES:
            return _flat_assign(df, keep, ids, vecs, vec, norm, metric, key=True)
        centroids = df.sparkSession.createDataFrame(
            list(zip(ids, vecs)), "cid int, cvec array<double>"
        )
    return _two_level_assign(df, keep, vec, norm, metric, centroids)


def assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2",
    max_cells: int = 100_000,
) -> DataFrame:
    """Nearest-cell id per vector: (id, cid, key) where ``key`` is the
    squared-L2 distance (or negated cosine) to the winning cell. The
    whole assignment is one shuffle-free Project over the scan — the
    building block ``ivf_topk`` / ``ivfpq_topk`` / ``dedup.semdedup``
    share, exposed for pre-partitioning a corpus by cell.

    Routing — the one rule, shared with ``dedup.semdedup``: the flat
    literal argmin while the centroid table has at most ``max_cells``
    cells AND at most 4M doubles (cells × dim, ≈ 32 MB of plan
    constant); past either bound, a TWO-LEVEL coarse quantizer:
    argmin over ~√k super-cells (a cid-ordered subsample, still one
    literal projection), then a broadcast-hash equi-join on the
    super-cell id delivers that super-cell's children array and the
    final argmin happens in-array — no n×k fan-out, no corpus-keyed
    shuffle at ANY k (standard IVF nprobe=1 assignment, so cell borders
    are approximate in that regime, exactly as FAISS coarse assignment
    is). The search tiers never route: their nprobe probe needs the
    flat literal, so they raise past ``max_cells``."""
    vec = F.col(vec_col).cast("array<double>")
    return _nearest_cells(
        df, [F.col(id_col)], vec, _l2_norm(vec), metric,
        centroids=centroids, max_cells=max_cells,
    )


def _two_level_assign(
    df: DataFrame,
    keep,
    vec: "F.Column",
    norm: "F.Column",
    metric: str,
    centroids: DataFrame,
) -> DataFrame:
    """The two-level coarse quantizer behind ``_nearest_cells``, kept
    corpus-shuffle-free end to end: ``keep`` columns + (cid, key).
    Level 1 picks each point's nearest of ~√k super-cells inside a
    Project (literal argmin); level 2 assigns every centroid to its
    super-cell the same way (centroid-table-sized work), groups them
    into one cid-sorted children array per super-cell, and a
    broadcast-hash equi-join on the ≤√k-cardinality super-cell key
    hands each point exactly one children array for the in-array final
    argmin. LEFT join: a degenerate point (null vector / all-NaN keys →
    null super-cell) keeps a row with null cid/key — the flat path's
    behavior — instead of silently disappearing."""
    cents = centroids.select(
        F.col("cid").cast("int").alias("cid"),
        F.col("cvec").cast("array<double>").alias("cvec"),
    )
    n_cells = cents.count()
    n_super = max(1, min(1024, int(n_cells ** 0.5) + 1))
    sup_rows = cents.orderBy("cid").limit(n_super).collect()
    sup_vecs = [[float(x) for x in r["cvec"]] for r in sup_rows]

    def super_cell(v: "F.Column", n: "F.Column") -> "F.Column":
        return _argmin(cell_key_array(v, sup_vecs, metric=metric, norm_expr=n))

    children = (
        cents.withColumn("__scell", super_cell(F.col("cvec"), _l2_norm(F.col("cvec"))))
        .groupBy("__scell")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("cid"), F.col("cvec")))
            ).alias("__children")
        )
    )
    return (
        df.withColumn("__tv", vec)
        .withColumn("__tn", norm)
        .withColumn("__scell", super_cell(F.col("__tv"), F.col("__tn")))
        .join(F.broadcast(children), "__scell", "left")
        .withColumn(
            "__ckeys",
            F.transform(
                F.col("__children"),
                lambda ch: _cell_key(F.col("__tv"), ch["cvec"], metric, F.col("__tn")),
            ),
        )
        .withColumn("__cpos", _argmin(F.col("__ckeys")))
        .select(
            *keep,
            F.element_at(F.col("__children"), F.col("__cpos"))["cid"].alias("cid"),
            F.element_at(F.col("__ckeys"), F.col("__cpos")).alias("key"),
        )
    )


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> List[List[float]]:
    """Deterministic random hyperplanes (numpy PRNG on the driver; tiny,
    shipped as literals)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((num_planes, dim)).tolist()


def lsh_bucket(vec_col: "F.Column", planes: Sequence[Sequence[float]]) -> "F.Column":
    """Sign-bit bucket id of a vector under the given hyperplanes."""
    bucket = F.lit(0).cast("bigint")
    for i, plane in enumerate(planes):
        lits = F.array(*[F.lit(float(w)) for w in plane])
        dot = F.aggregate(
            F.zip_with(vec_col, lits, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        bucket = bucket.bitwiseOR(F.shiftleft(F.when(dot >= 0, F.lit(1).cast("bigint")).otherwise(F.lit(0).cast("bigint")), i))
    return bucket


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 4,
    num_tables: int = 8,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH:
    (query_id, neighbor_id, rank, cosine).

    ``num_tables`` independent hash tables; candidates = union of
    same-bucket pairs (equi-join on (table, bucket)), then exact
    cosine + top-k on candidates only. Recall grows with tables;
    cost stays bucket-local — the 100 TB path.
    """
    c = _with_norm(corpus, id_col, vec_col, "c")
    q = _with_norm(queries, id_col, vec_col, "q")
    c_buckets = []
    q_buckets = []
    for t in range(num_tables):
        planes = _hyperplanes(dim, num_planes, seed + t)
        c_buckets.append(
            c.select("c_id", "c_vec", "c_norm", F.lit(t).alias("tbl"), lsh_bucket(F.col("c_vec"), planes).alias("bucket"))
        )
        q_buckets.append(
            q.select("q_id", "q_vec", "q_norm", F.lit(t).alias("tbl"), lsh_bucket(F.col("q_vec"), planes).alias("bucket"))
        )
    c_all = c_buckets[0]
    for extra in c_buckets[1:]:
        c_all = c_all.unionByName(extra)
    q_all = q_buckets[0]
    for extra in q_buckets[1:]:
        q_all = q_all.unionByName(extra)
    candidates = (
        c_all.join(F.broadcast(q_all), ["tbl", "bucket"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", "q_vec", "c_vec", "q_norm", "c_norm")
        .dropDuplicates(["q_id", "c_id"])
    )
    scored = candidates.select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("neighbor_id"),
        trunc_digits(_cosine("q_vec", "c_vec", "q_norm", "c_norm")).alias("cosine"),
    )
    return _top_k(scored, "cosine", k)


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (SQ8):
    (id, codes array<int> in [-127, 127], scale double).

    ``x̂_i = codes_i * scale`` reconstructs the vector;
    ``scale = max|x| / 127``. A pure projection — no shuffle, no
    Python — that shrinks a float32 corpus ~4× (64 B codes + one scale
    per 64-dim vector), the memory lever that keeps a 100 TB embedding
    corpus cacheable for repeated ANN probes. Zero vectors quantize to
    all-zero codes with scale 0.
    """
    vec = F.col(vec_col).cast("array<double>")
    max_abs = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    scale = (max_abs / F.lit(127.0)).alias("scale")
    codes = F.when(
        max_abs > 0,
        F.transform(vec, lambda x: F.round(x * F.lit(127.0) / max_abs).cast("int")),
    ).otherwise(F.transform(vec, lambda x: F.lit(0))).alias("codes")
    return df.select(F.col(id_col), codes, scale)


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rescore_factor: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantized: Optional[DataFrame] = None,
) -> DataFrame:
    """Two-stage ANN over an SQ8-quantized corpus:
    (query_id, neighbor_id, rank, cosine).

    Stage 1 scans the int8 codes (4× smaller than the float corpus)
    and scores every vector with the RECONSTRUCTED cosine — integer
    codes × per-vector scale, all in JVM codegen — keeping the top
    ``k * rescore_factor`` per query. Stage 2 rescores only those
    candidates against the full-precision vectors (semi-join by id)
    and emits the exact-cosine top-k, so quantization error can only
    cost recall in the stage-1 cut, never wrong final scores. The
    production shape: ``quantized=`` takes a pre-materialized
    ``quantize_embeddings`` table (the persisted artifact) so the
    float corpus is touched only for the tiny rescore set.
    """
    if quantized is None:
        quantized = quantize_embeddings(corpus, id_col, vec_col)
    q = F.broadcast(_with_norm(queries, id_col, vec_col, "q"))
    # reconstructed corpus vector: codes*scale; its norm folds the
    # scale out of the sum — |x̂| = scale * |codes|
    code_norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("codes"), lambda c: c.cast("double") * c),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    c = quantized.select(
        F.col(id_col).alias("c_id"),
        F.col("codes"),
        F.col("scale"),
        (F.col("scale") * code_norm).alias("c_norm"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("q_vec"), F.col("codes"), lambda x, cc: x * cc.cast("double")),
        F.lit(0.0),
        lambda a, x: a + x,
    ) * F.col("scale")
    approx = (
        c.crossJoin(q)
        .filter((F.col("q_id") != F.col("c_id")) & (F.col("c_norm") > 0))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            (dot / (F.col("q_norm") * F.col("c_norm"))).alias("approx_cosine"),
        )
    )
    # exact rescore: full-precision vectors for the shortlist only
    cv = _with_norm(corpus, id_col, vec_col, "c")
    return _top_k(_rescore(approx, k * rescore_factor, cv, queries, id_col, vec_col), "cosine", k)


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    num_codes: int = 16,
    iterations: int = DEFAULT_LLOYD_ITERATIONS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> List[List[List[float]]]:
    """Product-quantization codebooks: ``m`` per-subspace k-means
    codebooks of ``num_codes`` centroids each (FAISS PQ training),
    returned driver-side as plain nested lists — the tiny persistable
    artifact (m × num_codes × dim/m floats) a production pipeline
    trains once, stores, and ships as literals into encode/search
    plans.

    Each subspace's seeded init is its slice of the ``num_codes``
    lowest-id vectors — ONE collect shared across all ``m`` subspaces
    (slicing commutes with the double cast), so ``iterations=0`` (the
    pre-seeded production/oracle path) costs two driver jobs total
    instead of 2m. ``iterations>0`` runs the shared deterministic
    Lloyd loop per subspace over the sliced subvectors. At corpus
    scale, train on a ``sampling.hash_sample`` of the corpus (FAISS
    trains on samples too); the codebooks generalize, the encode pass
    sees every row anyway.
    """
    vec = F.col(vec_col).cast("array<double>")
    init_rows = (
        corpus.select(F.col(id_col).alias("pid"), vec.alias("pvec"))
        .orderBy("pid")
        .limit(num_codes)
        .collect()
    )
    full = [[float(x) for x in r["pvec"]] for r in init_rows]
    if not full:
        raise ValueError(
            "cannot train PQ codebooks on an empty corpus: the seeded "
            "init collect returned no rows"
        )
    dim = len(full[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    books: List[List[List[float]]] = []
    for s in range(m):
        init = [v[s * sub : (s + 1) * sub] for v in full]
        if iterations == 0:
            books.append(init)
            continue
        sub_points = corpus.select(F.slice(vec, s * sub + 1, sub).alias("pvec"))
        _, trained = _lloyd(
            sub_points, list(range(len(init))), init, iterations, sub,
        )
        books.append(trained)
    return books


def _books_lit(codebooks: List[List[List[float]]]) -> "F.Column":
    """Codebooks as ONE nested-array Literal (array<array<array<double>>>)
    — O(1) expression nodes in m×num_codes. The previous per-centroid
    unrolled trees made Catalyst analysis/codegen time itself scale
    with the quantizer (m=16 × 256 codes ≈ 4,096 aggregate exprs)."""
    return _nested_lit(
        [[[float(x) for x in cent] for cent in book] for book in codebooks],
        "array<array<array<double>>>",
    )


def _luts(codebooks: List[List[List[float]]]) -> "F.Column":
    """Per-query ADC lookup tables over ``q_vec``: subvector·centroid
    dot products, ``m × num_codes``, as ONE nested-array column."""
    sub = len(codebooks[0][0])
    return F.transform(
        _books_lit(codebooks),
        lambda book, s: F.transform(
            book, lambda cent: _dot_expr(F.slice(F.col("q_vec"), s * sub + 1, sub), cent)
        ),
    )


def _adc() -> "F.Column":
    """The ADC dot product: ``m`` LUT lookups of ``codes`` in ``luts``."""
    return F.aggregate(
        F.zip_with(F.col("codes"), F.col("luts"), lambda cd, lut: F.element_at(lut, cd + 1)),
        F.lit(0.0),
        lambda a, x: a + x,
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: List[List[List[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """PQ-encode a corpus: (id, [keep_cols...], codes array<int>,
    approx_norm double).

    Each subvector maps to its nearest codebook centroid (squared-L2
    argmin over the ``num_codes`` centroids; ties → lowest code).
    ``approx_norm`` is the norm of the reconstructed vector — a
    literal-table lookup, precomputed here so the search never
    recomputes it. A pure codegen projection: the codebooks ship as a
    single nested-array Literal and all ``m`` codes come from one
    indexed ``transform`` (expression size O(1) in the quantizer), so
    a 64-dim float corpus shrinks to ``m`` small ints + one double per
    row — the ~16-32× memory lever that keeps ANN over a 100 TB corpus
    scan-cheap. ``keep_cols`` ride along so callers (ivfpq) can encode
    in the same projection that produced the input — no re-derive join.
    """
    sub = len(codebooks[0][0])
    vec = F.col(vec_col).cast("array<double>")
    norms_lit = _nested_lit(
        [[sum(float(x) * float(x) for x in cent) for cent in book] for book in codebooks],
        "array<array<double>>",
    )

    def code_for(book: "F.Column", s: "F.Column") -> "F.Column":
        subvec = F.slice(vec, s * sub + 1, sub)
        dists = F.transform(book, lambda cent: _l2_sq(subvec, cent))
        return _argmin(dists) - 1

    codes = F.transform(_books_lit(codebooks), code_for)
    keep = [F.col(c) for c in keep_cols]
    norm_sq = F.aggregate(
        F.zip_with(F.col("codes"), norms_lit, lambda c, ns: F.element_at(ns, c + 1)),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    return corpus.select(F.col(id_col), *keep, codes.alias("codes")).select(
        F.col(id_col), *keep, F.col("codes"), F.sqrt(norm_sq).alias("approx_norm")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rescore_factor: int = 4,
    m: int = 8,
    num_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: Optional[List[List[List[float]]]] = None,
    encoded: Optional[DataFrame] = None,
) -> DataFrame:
    """Two-stage ANN over a product-quantized corpus:
    (query_id, neighbor_id, rank, cosine) — the FAISS IndexPQ shape
    with asymmetric distance computation (ADC).

    Stage 1 scans only the code table: each query precomputes a
    ``m × num_codes`` lookup table of subvector·centroid dot products
    (built on the broadcast query side as ONE nested-array column from
    the single codebook Literal — expression size O(1) in the
    quantizer), and every corpus row's approximate cosine is ``m``
    array lookups folded in one ``aggregate`` — no float vectors
    touched. Stage 2 rescores the ``k × rescore_factor`` shortlist
    against the full-precision vectors, so final scores are exact;
    quantization error can only cost recall at the cut, never wrong
    scores (the ``sq8_topk`` contract). Production passes
    ``codebooks`` (trained once) and ``encoded`` (the materialized
    ``pq_encode`` table).
    """
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, m=m, num_codes=num_codes, id_col=id_col, vec_col=vec_col
        )
    if encoded is None:
        encoded = pq_encode(corpus, codebooks, id_col, vec_col)
    q = F.broadcast(
        _with_norm(queries, id_col, vec_col, "q").select(
            "q_id", "q_norm", "q_vec", _luts(codebooks).alias("luts")
        )
    )
    c = encoded.select(
        F.col(id_col).alias("c_id"), F.col("codes"), F.col("approx_norm")
    )
    approx = (
        c.crossJoin(q)
        .filter((F.col("q_id") != F.col("c_id")) & (F.col("approx_norm") > 0))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            (_adc() / (F.col("q_norm") * F.col("approx_norm"))).alias("approx_cosine"),
        )
    )
    cv = _with_norm(corpus, id_col, vec_col, "c")
    return _top_k(_rescore(approx, k * rescore_factor, cv, queries, id_col, vec_col), "cosine", k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    num_centroids: int = 16,
    m: int = 8,
    num_codes: int = 16,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[DataFrame] = None,
    codebooks: Optional[List[List[List[float]]]] = None,
    iterations: int = DEFAULT_LLOYD_ITERATIONS,
    max_cells: int = 100_000,
) -> DataFrame:
    """IVF+PQ ANN (the FAISS IndexIVFPQ shape): a coarse quantizer
    prunes to ``nprobe`` cells, product-quantized RESIDUALS
    (vector − cell centroid) score the survivors via ADC, and the
    ``k × rescore_factor`` shortlist rescores against full-precision
    vectors — exact final scores, approximation only at the cuts.

    The two artifacts compose the standalone tiers: ``centroids``
    (``train_ivf_centroids``) and ``codebooks``
    (``train_pq_codebooks`` over residuals — trained here when not
    given, on a CACHED residual table so the m Lloyd loops do not
    re-derive the assignment each pass; production trains both once,
    offline, on a sample).

    Scale shape: corpus-side assignment + residual + encode happen in
    ONE shuffle-free Project over the scan (nearest cell via the
    nested-literal argmin — no crossJoin, no per-row window, nothing
    re-derived downstream because c_norm and cid ride the same
    projection); query-side probing is an ``array_sort`` projection
    over the same literal. The scoring join is a cell-keyed EQUI-join
    of the code table against the broadcast probe set — the crossJoin
    of ``pq_topk`` shrinks to ~nprobe/num_centroids of the corpus, and
    each scored row costs m array lookups plus the precomputed
    q·centroid term. Approximate cosine uses the EXACT corpus-vector
    norm (free at encode time), so ADC error lives only in the dot
    product.
    """
    if centroids is None:
        cent_ids, cent_vecs = _train_ivf_lists(
            corpus, num_centroids, iterations, id_col, vec_col
        )
    else:
        # callers with quantizers past the flat-literal bound raise
        # max_cells explicitly, or pre-partition via assign_cells
        # (two-level) + build_partitioned_ivf instead
        cent_ids, cent_vecs = collect_centroids(centroids, max_cells=max_cells)
    assigned = _ivfpq_assigned(corpus, cent_ids, cent_vecs, id_col, vec_col)
    if codebooks is None:
        residuals = assigned.select(F.col("c_id").alias(id_col), F.col("residual").alias(vec_col))
        # cache: each of the m Lloyd loops actions this plan several
        # times; uncached, every action re-runs the assignment scan
        residuals = residuals.cache()
        codebooks = train_pq_codebooks(
            residuals, m=m, num_codes=num_codes, iterations=iterations,
            id_col=id_col, vec_col=vec_col,
        )
        # codebooks are collected driver-side — the cached residual
        # table has no further consumer; release executor storage so
        # repeated calls in a long-lived session don't accumulate it
        residuals.unpersist()
    # encode in the SAME projection chain that assigned: c_norm and
    # cid ride along, so no join (and no second pass) re-derives the
    # assignment for downstream consumers
    rows = _ivfpq_encode_layout(assigned, codebooks, id_col, vec_col)
    q_cells = _probe(queries, id_col, vec_col, cent_ids, cent_vecs, nprobe, codebooks=codebooks)
    approx = _ivfpq_approx(rows, q_cells, id_col)
    cv = _with_norm(corpus, id_col, vec_col, "c")
    return _top_k(_rescore(approx, k * rescore_factor, cv, queries, id_col, vec_col), "cosine", k)


def _probe(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cent_ids,
    cent_vecs,
    nprobe: int,
    metric: str = "l2",
    codebooks: Optional[List[List[List[float]]]] = None,
) -> DataFrame:
    """The query probe every IVF tier shares: each query's ``nprobe``
    best cells (``probe_cells`` over the centroid literal), exploded to
    one (q_id, q_vec, q_norm, cid) row per probed cell. The
    PQ tiers pass ``codebooks``: each row then also carries
    ``q_dot_cent`` (q·centroid) and the ADC ``luts``."""
    q = _with_norm(queries, id_col, vec_col, "q")
    keys = cell_key_array(F.col("q_vec"), cent_vecs, metric=metric, norm_expr=F.col("q_norm"))
    pos = F.col("__pc.p")
    extra = []
    if codebooks is not None:
        cents_lit = _nested_lit(cent_vecs, "array<array<double>>")
        extra = [
            _dot_expr(F.col("q_vec"), F.element_at(cents_lit, pos)).alias("q_dot_cent"),
            _luts(codebooks).alias("luts"),
        ]
    return q.select(
        "q_id", "q_vec", "q_norm",
        F.explode(probe_cells(keys, len(cent_ids), nprobe)).alias("__pc"),
    ).select(
        "q_id", "q_vec", "q_norm",
        F.element_at(_nested_lit(cent_ids, "array<int>"), pos).alias("cid"),
        *extra,
    )


def _ivf_scored(rows: DataFrame, q_cells: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Exact-cosine scoring of IVF index-layout rows against the probe.
    A query probing several cells can meet a neighbor once per cell:
    deduplicated before ranking."""
    return (
        rows.select(
            "cid",
            F.col(id_col).alias("c_id"),
            F.col(vec_col).alias("c_vec"),
            F.col("vnorm").alias("c_norm"),
        )
        .join(F.broadcast(q_cells), "cid")
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            trunc_digits(_cosine("q_vec", "c_vec", "q_norm", "c_norm")).alias("cosine"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def _ivfpq_approx(rows: DataFrame, q_cells: DataFrame, id_col: str) -> DataFrame:
    """ADC candidate scoring of IVF+PQ index-layout rows against the
    probe: residual ADC plus the precomputed q·centroid term over the
    EXACT corpus norm, so ADC error lives only in the dot product —
    (query_id, neighbor_id, approx_cosine)."""
    return (
        rows.select("cid", F.col(id_col).alias("c_id"), F.col("vnorm").alias("c_norm"), "codes")
        .join(F.broadcast(q_cells), "cid")
        .filter((F.col("q_id") != F.col("c_id")) & (F.col("c_norm") > 0))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            ((F.col("q_dot_cent") + _adc()) / (F.col("q_norm") * F.col("c_norm"))).alias(
                "approx_cosine"
            ),
        )
    )


def train_ivf_centroids(
    corpus: DataFrame,
    num_centroids: int = 16,
    iterations: int = DEFAULT_LLOYD_ITERATIONS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """K-means coarse quantizer trained with DataFrame ops.

    Init = the ``num_centroids`` lowest-id vectors (deterministic);
    each Lloyd iteration is one ZERO-SHUFFLE literal-argmin assignment
    projection + one groupBy mean (map-side partials over ≤k groups).
    The centroid table is collected to the driver each round anyway
    (it IS the artifact, and materializing it keeps the plan bounded
    instead of re-deriving every prior iteration per action), so
    shipping it back as one nested-array Literal costs nothing — and
    removes the crossJoin + per-row-keyed window the loop used before.
    Empty cells drop out of the table (the FAISS behavior).
    """
    cent_ids, cent_vecs = _train_ivf_lists(
        corpus, num_centroids, iterations, id_col, vec_col
    )
    return corpus.sparkSession.createDataFrame(
        list(zip(cent_ids, cent_vecs)), "cid int, cvec array<double>"
    )


def _train_ivf_lists(
    corpus: DataFrame,
    num_centroids: int,
    iterations: int,
    id_col: str,
    vec_col: str,
) -> tuple:
    """``train_ivf_centroids`` returning driver-side ``(ids, vecs)``
    directly — the in-process callers (ivf/ivfpq inline training)
    skip the createDataFrame → re-collect roundtrip, so seeded
    (iterations=0) training costs exactly ONE driver job (the init
    collect; dim comes from the collected rows, not a separate
    probe)."""
    vec = F.col(vec_col).cast("array<double>")
    points = corpus.select(F.col(id_col).alias("pid"), vec.alias("pvec"))
    init = points.orderBy("pid").limit(num_centroids).collect()
    dim = len(init[0]["pvec"]) if init else 0
    return _lloyd(
        points.select("pvec"),
        list(range(len(init))),
        [[float(x) for x in r["pvec"]] for r in init],
        iterations,
        dim,
    )


def _lloyd(
    points: DataFrame,
    cent_ids: List[int],
    cent_vecs: List[List[float]],
    iterations: int,
    dim: int,
) -> tuple:
    """The shared deterministic Lloyd loop over a (pvec) table: each
    round is one zero-shuffle literal-argmin assignment projection +
    one groupBy mean (one driver job; the collected means become the
    next round's literal). Empty cells drop out (FAISS behavior)."""
    for _ in range(iterations):
        # new centroid = per-cell mean, dimension-wise (one groupBy,
        # map-side partials; centroid table stays tiny)
        updated = (
            _flat_assign(points, ["pvec"], cent_ids, cent_vecs, F.col("pvec"))
            .groupBy("cid")
            .agg(
                F.array(
                    *[F.avg(F.element_at(F.col("pvec"), i + 1)) for i in range(dim)]
                ).alias("cvec")
            )
        )
        pairs = sorted(
            (int(r["cid"]), [float(x) for x in r["cvec"]]) for r in updated.collect()
        )
        cent_ids = [c for c, _ in pairs]
        cent_vecs = [v for _, v in pairs]
    return cent_ids, cent_vecs


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    row = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    return int(row[0]["d"]) if row else 0


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: Optional[DataFrame] = None,
    metric: str = "l2",
    iterations: int = DEFAULT_LLOYD_ITERATIONS,
    max_cells: int = 100_000,
) -> DataFrame:
    """IVF approximate top-k: (query_id, neighbor_id, rank, cosine).

    Corpus vectors are assigned to their nearest centroid cell once —
    a ZERO-SHUFFLE literal-argmin projection over the scan (no
    crossJoin, no per-row window); each query probes its ``nprobe``
    nearest cells via the same array-sort projection, so the scored
    set is ~``nprobe/num_centroids`` of the corpus.

    ``metric`` picks the coarse-quantizer distance — ``"l2"`` (FAISS
    IVF default) or ``"cosine"`` (spherical cells; with pre-trained
    ``centroids`` every step is deterministic dot-product arithmetic,
    which is what lets the registered query's DuckDB oracle replicate
    the cell assignment exactly). Final neighbor scores are exact
    cosine either way.
    """
    if metric not in ("l2", "cosine"):
        raise ValueError(f"metric must be 'l2' or 'cosine', got {metric!r}")
    if centroids is None:
        cent_ids, cent_vecs = _train_ivf_lists(
            corpus, num_centroids, iterations, id_col, vec_col
        )
    else:
        # past the flat-literal bound, raise max_cells explicitly or
        # use assign_cells (two-level) + build_partitioned_ivf
        cent_ids, cent_vecs = collect_centroids(centroids, max_cells=max_cells)
    rows = ivf_index_rows(
        corpus, cent_ids, cent_vecs, id_col=id_col, vec_col=vec_col, metric=metric
    )
    q_cells = _probe(queries, id_col, vec_col, cent_ids, cent_vecs, nprobe, metric=metric)
    return _top_k(_ivf_scored(rows, q_cells, id_col, vec_col), "cosine", k)


def build_partitioned_ivf(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2",
    max_cells: int = 100_000,
    files_per_cell: int = 1,
    metadata_cols=(),
    spark=None,
) -> None:
    """Materialize a cell-partitioned IVF index: assign every corpus
    vector to its nearest centroid cell (the zero-shuffle literal-argmin
    projection) and write the corpus as a ``partitionBy(cid)`` parquet
    dataset — vector, precomputed norm, and cell id per row.

    This is the 100 TB index build: ONE pass over the corpus (one
    assignment projection + ONE shuffle that clusters rows by cell
    before the write), and every search after it reads ONLY the probed
    cells via plan-time partition pruning (``ivf_partitioned_topk``) —
    search I/O is ~nprobe/num_centroids of the corpus instead of a
    full scan. Without the pre-write clustering every input partition
    would emit a file into every cell directory —
    ``num_input_partitions × num_cells`` small files (10M+ at cluster
    scale, a metadata catastrophe); clustered, the file count is
    bounded at ``files_per_cell × num_cells``. Raise ``files_per_cell``
    when single cells outgrow one task's write (the intra-cell salt
    spreads each cell over that many shuffle keys). The write goes
    through ``s3.to_parquet`` dataset mode, so the same call targets
    ``file://`` in tests and ``s3a://`` on a cluster, and the index can
    be registered in the catalog like any dataset.

    Ref: composes `/root/reference/awswrangler/s3.py` ``to_parquet``
    dataset semantics (partition_cols) with the IVF assignment tier —
    the reference itself has no ANN analog.
    """
    cent_ids, cent_vecs = collect_centroids(centroids, max_cells=max_cells)
    assigned = ivf_index_rows(
        corpus, cent_ids, cent_vecs, id_col=id_col, vec_col=vec_col,
        metric=metric, metadata_cols=metadata_cols,
    )
    _write_index(assigned, path, id_col, files_per_cell, None, spark)


def cluster_by_cell(df: DataFrame, id_col: str, files_per_cell: int) -> DataFrame:
    """The pre-write clustering every partitioned-index writer needs:
    repartition by cid (one shuffle) so a ``partitionBy("cid")`` write
    emits ``files_per_cell × num_cells`` files instead of
    ``input_partitions × num_cells`` (the small-file catastrophe);
    ``files_per_cell > 1`` salts giant cells across that many shuffle
    keys. Shared by the batch builds, the streaming ingest sink, and
    compaction so all writers fragment identically."""
    if files_per_cell <= 1:
        return df.repartition(F.col("cid"))
    return df.repartition(
        F.col("cid"), F.pmod(F.hash(F.col(id_col)), F.lit(files_per_cell))
    )


def _codebooks_path(index_path: str) -> str:
    return f"{index_path.rstrip('/')}/_codebooks.json"


def _write_index(
    rows: DataFrame, path: str, id_col: str, files_per_cell: int, codebooks, spark
) -> None:
    """The one partitioned-index writer (builds, compaction, rebalance):
    cluster by cell, overwrite ``path`` as a ``partitionBy(cid)``
    dataset, then — for IVF+PQ — the ``_codebooks.json`` sidecar that
    makes the index self-describing (written AFTER the dataset so the
    overwrite can't eat it; the leading underscore keeps it invisible
    to the parquet reader, the _SUCCESS convention)."""
    from aws_data_wrangler_spark import s3

    s3.to_parquet(
        cluster_by_cell(rows, id_col, files_per_cell), path, dataset=True,
        partition_cols=["cid"], mode="overwrite", spark=spark,
    )
    if codebooks is not None:
        save_pq_codebooks(codebooks, _codebooks_path(path), spark=spark)


def _check_metadata_cols(metadata_cols, reserved) -> None:
    """Reject metadata columns that would shadow the index layout —
    shared by every row-layout builder (batch AND streaming callers)
    so the error is a clear ValueError instead of a downstream
    AMBIGUOUS_REFERENCE."""
    bad = [c for c in metadata_cols if c in reserved]
    if bad:
        raise ValueError(
            f"metadata_cols {bad} collide with the index layout columns "
            f"({sorted(reserved)})"
        )
    if any(not isinstance(c, str) for c in metadata_cols):
        raise TypeError("metadata_cols must be column NAMES (strings)")


def ivf_index_rows(
    corpus: DataFrame,
    cent_ids,
    cent_vecs,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2",
    metadata_cols=(),
) -> DataFrame:
    """The partitioned-IVF index ROW layout as one shuffle-free
    projection: (id, vector-as-double, exact norm, cid), plus any
    ``metadata_cols`` carried verbatim — filterable attributes (label,
    lang, date) stored INLINE in the index so a filtered search pushes
    its predicate into the SAME pruned scan (the vector-DB
    metadata-filtering shape) instead of paying a corpus join at query
    time. Shared by the batch build (``build_partitioned_ivf``) and
    the streaming ingest sink (``streaming.index_ingest_sink``) so
    both write byte-compatible rows."""
    _check_metadata_cols(metadata_cols, {id_col, vec_col, "vnorm", "cid"})
    c = _with_norm(corpus, id_col, vec_col, "c", keep=list(metadata_cols))
    keep = [
        F.col("c_id").alias(id_col),
        F.col("c_vec").alias(vec_col),
        F.col("c_norm").alias("vnorm"),
        *metadata_cols,
    ]
    return _flat_assign(c, keep, cent_ids, cent_vecs, F.col("c_vec"), F.col("c_norm"), metric)


def ivf_partitioned_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2",
    max_cells: int = 100_000,
    where=None,
) -> DataFrame:
    """IVF top-k over a ``build_partitioned_ivf`` index:
    (query_id, neighbor_id, rank, cosine) — value-identical to
    ``ivf_topk`` with the same centroids/nprobe, but the corpus scan is
    partition-PRUNED to the probed cells: the scan's PartitionFilters
    carry ``cid IN (<probed>)``, so a 1000-executor search reads
    ~nprobe/num_centroids of a 100 TB index instead of all of it.

    ``where`` (SQL string or Column over the index's ``metadata_cols``)
    is the vector-DB metadata filter: it lands directly on the pruned
    scan, so simple predicates reach parquet as PushedFilters and
    non-matching row groups never decompress — filtered search costs
    LESS than unfiltered, not a post-hoc result trim. Candidates are
    restricted; ranks are dense within the filtered pool (top-k AMONG
    matching neighbors, the FAISS IDSelector / vector-DB contract).

    The probe and the scoring are ``ivf_topk``'s own (so tie-breaks
    agree bit-for-bit); only the index rows differ — the pruned parquet
    scan with the stored norms instead of rows assigned in memory. The
    probed cell ids (queries × nprobe, artifact-sized) are collected to
    become scan-time pruning literals.
    """
    cent_ids, cent_vecs = collect_centroids(centroids, max_cells=max_cells)
    q_cells = _probe(queries, id_col, vec_col, cent_ids, cent_vecs, nprobe, metric=metric)
    rows = _live_rows(spark, index_path, _probed_cids(q_cells), id_col, where)
    return _top_k(_ivf_scored(rows, q_cells, id_col, vec_col), "cosine", k)


def _probed_cids(q_cells: DataFrame) -> List[int]:
    """The probed cell ids, collected to become scan-pruning literals:
    queries × nprobe values, artifact-sized by contract (the query set
    is the small, broadcast side of every ANN tier)."""
    return sorted(r["cid"] for r in q_cells.select("cid").distinct().collect())


def _cells_scan(spark, index_path: str, cids: List[int]) -> DataFrame:
    """The index dataset partition-pruned to ``cids`` (PartitionFilters
    ``cid IN (...)`` on the scan)."""
    from aws_data_wrangler_spark import s3

    return s3.read_parquet(index_path, dataset=True, spark=spark).filter(
        F.col("cid").isin(cids)
    )


def _live_rows(spark, index_path: str, cids: List[int], id_col: str, where=None) -> DataFrame:
    """The searchable rows of the probed cells: the pruned scan, the
    metadata filter (``where`` lands on the scan, so simple predicates
    reach parquet as PushedFilters), then the tombstone anti-join."""
    rows = _cells_scan(spark, index_path, cids)
    if where is not None:
        rows = rows.filter(where)
    return _apply_tombstones(rows, load_tombstones(spark, index_path, id_col), id_col)


def build_partitioned_ivfpq(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    m: int = 8,
    num_codes: int = 16,
    codebooks: Optional[List[List[List[float]]]] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = DEFAULT_LLOYD_ITERATIONS,
    max_cells: int = 100_000,
    files_per_cell: int = 1,
    metadata_cols=(),
    spark=None,
) -> List[List[List[float]]]:
    """Materialize the FULL IVF+PQ serving index as one cell-partitioned
    parquet dataset: per row the vector, its exact norm, the PQ codes of
    its residual, and the cell id as the partition column. Returns the
    codebooks artifact (trained on the residuals when not given —
    production trains offline on a sample and passes them in).

    This is the 100 TB serving shape: the ADC scan of
    ``ivfpq_partitioned_topk`` partition-prunes to the probed cells AND
    column-prunes to (id, norm, codes) — parquet never materializes the
    vector column for candidate scoring, so the scored bytes are the
    ~16-32× smaller code table of ~nprobe/num_centroids of the corpus;
    only the exact rescore touches the vector column, for the probed
    cells only. One corpus pass builds it: assignment + residual +
    encode in ONE shuffle-free Project, then the cell-clustering
    repartition the dataset write needs anyway (file count bounded at
    ``files_per_cell × num_cells`` — the build_partitioned_ivf
    discipline).
    """
    _check_metadata_cols(
        metadata_cols, {id_col, vec_col, "vnorm", "cid", "codes"}
    )
    cent_ids, cent_vecs = collect_centroids(centroids, max_cells=max_cells)
    assigned = _ivfpq_assigned(
        corpus, cent_ids, cent_vecs, id_col, vec_col, metadata_cols
    )
    cached = False
    if codebooks is None:
        # cache the FULL assigned projection: the Lloyd training loops
        # action it repeatedly AND the encode below reuses it —
        # uncached, the corpus-wide argmin+residual pass would run once
        # more for the encode
        assigned = assigned.cache()
        cached = True
        codebooks = train_pq_codebooks(
            assigned.select(
                F.col("c_id").alias(id_col), F.col("residual").alias(vec_col)
            ),
            m=m, num_codes=num_codes, iterations=iterations,
            id_col=id_col, vec_col=vec_col,
        )
    encoded = _ivfpq_encode_layout(assigned, codebooks, id_col, vec_col, metadata_cols)
    # the sidecar makes the index self-describing: a search session
    # needs only the path
    _write_index(encoded, path, id_col, files_per_cell, codebooks, spark)
    if cached:
        assigned.unpersist()
    return codebooks


def _ivfpq_assigned(
    corpus: DataFrame, cent_ids, cent_vecs, id_col: str, vec_col: str,
    metadata_cols=(),
) -> DataFrame:
    """Assignment + residual in one shuffle-free projection:
    (c_id, c_vec, c_norm, cid, residual) plus any ``metadata_cols``
    carried verbatim — the shared first stage of IVF+PQ index builds
    and streaming ingest."""
    c = _with_norm(corpus, id_col, vec_col, "c", keep=list(metadata_cols))
    keep = ["c_id", "c_vec", "c_norm", *metadata_cols]
    return _flat_assign(c, keep, cent_ids, cent_vecs, F.col("c_vec"), residual=True)


def ivfpq_index_rows(
    corpus: DataFrame,
    cent_ids,
    cent_vecs,
    codebooks: List[List[List[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metadata_cols=(),
) -> DataFrame:
    """The partitioned-IVF+PQ index ROW layout as one shuffle-free
    projection chain: (id, vector-as-double, exact norm, residual PQ
    codes, cid), plus any ``metadata_cols`` carried verbatim (the
    filtered-search attributes). Shared by ``build_partitioned_ivfpq``
    and the streaming ingest sink so both write byte-compatible rows."""
    _check_metadata_cols(
        metadata_cols, {id_col, vec_col, "vnorm", "cid", "codes"}
    )
    assigned = _ivfpq_assigned(
        corpus, cent_ids, cent_vecs, id_col, vec_col, metadata_cols
    )
    return _ivfpq_encode_layout(assigned, codebooks, id_col, vec_col, metadata_cols)


def _ivfpq_encode_layout(
    assigned: DataFrame, codebooks, id_col: str, vec_col: str, metadata_cols=()
) -> DataFrame:
    """``_ivfpq_assigned`` output → the serving-index row layout
    (id, vector, norm, residual PQ codes, cid [, metadata])."""
    return pq_encode(
        assigned, codebooks, id_col="c_id", vec_col="residual",
        keep_cols=["c_vec", "c_norm", "cid", *metadata_cols],
    ).select(
        F.col("c_id").alias(id_col),
        F.col("c_vec").alias(vec_col),
        F.col("c_norm").alias("vnorm"),
        "codes",
        *[F.col(mc) for mc in metadata_cols],
        "cid",
    )


def compact_partitioned_index(
    spark,
    index_path: str,
    target_path: str,
    files_per_cell: int = 1,
    id_col: str = "vec_id",
) -> None:
    """Compact a partitioned ANN index that streaming ingest has
    fragmented (every micro-batch appends ≥1 file per touched cell):
    read whatever layout is there — IVF or IVF+PQ, codes preserved
    verbatim, nothing re-encoded — re-cluster by cid, and write a
    fresh dataset at ``target_path`` with the file count back to
    ``files_per_cell × num_cells``; the ``_codebooks.json`` sidecar is
    carried over when present. Writing to a NEW path keeps the swap
    atomic at the pointer level (readers never scan a half-written
    index) — the OPTIMIZE-then-repoint pattern of table formats.

    Tombstones (``delete_from_partitioned_index``) are applied
    PHYSICALLY here: soft-deleted rows are dropped from the compacted
    copy and the tombstone sidecar is NOT carried over — compaction is
    where deletes stop costing an anti-join per search.
    """
    rows, books = _index_rows_and_codebooks(spark, index_path, id_col)
    _write_index(rows, target_path, id_col, files_per_cell, books, spark)


def _index_rows_and_codebooks(spark, index_path: str, id_col: str) -> tuple:
    """An index's live rows (tombstones applied physically) and its
    codebooks — ``None`` for plain IVF. Layout detection follows the
    SIDECAR, not a column name, and only a genuinely ABSENT sidecar
    means plain IVF: a present-but-corrupt one fails loudly here, or a
    repointed index would silently lose its codebooks and the first
    codebooks=None search would break much later."""
    from aws_data_wrangler_spark import s3
    from aws_data_wrangler_spark.s3._fs import does_object_exist

    rows = _apply_tombstones(
        s3.read_parquet(index_path, dataset=True, spark=spark),
        load_tombstones(spark, index_path, id_col),
        id_col,
    )
    sidecar = _codebooks_path(index_path)
    if not does_object_exist(sidecar, spark=spark):
        return rows, None
    return rows, load_pq_codebooks(sidecar, spark=spark)


def rebalance_partitioned_index(
    spark,
    index_path: str,
    centroids: DataFrame,
    target_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2",
    max_cells: int = 100_000,
    files_per_cell: int = 1,
) -> None:
    """Re-cluster a partitioned ANN index around a NEW quantizer — the
    maintenance step ``cell_occupancy`` exists to motivate: once drift
    or skewed ingest piles mass into a few hot cells, partition pruning
    stops paying (a cell holding 30% of the index makes every probe of
    it read 30% of the index), and the fix is retrained/resized
    centroids. Reads the INDEX once (vectors are stored in the layout,
    so the original corpus is never touched), applies tombstones
    physically (the compaction contract — the sidecar is not carried),
    re-assigns every vector to the new centroids with the same
    zero-shuffle literal-argmin projection as the build, and writes a
    fresh cell-clustered dataset at ``target_path`` — the
    OPTIMIZE-then-repoint pattern, searchable with the NEW centroids
    the moment the pointer flips.

    An IVF+PQ index (``_codebooks.json`` sidecar present) is
    re-ENCODED, not copied: its codes quantize residuals against the
    OLD cell centroid, so unlike compaction they cannot be carried
    verbatim — each vector's residual vs its new cell re-encodes
    against the same codebooks (one extra projection in the same
    pass), and the sidecar is re-saved at the target. Metadata columns
    (the filtered-search attributes) carry verbatim in both layouts.

    Ref: the FAISS retrain/re-add maintenance cycle expressed as one
    Spark job; composes ``ivf[pq]_index_rows`` + ``cluster_by_cell``
    so rebalanced rows are byte-compatible with fresh builds.
    """
    rows, books = _index_rows_and_codebooks(spark, index_path, id_col)
    # only a genuine IVF+PQ index reserves "codes" — a plain-IVF index
    # may legally carry a metadata column called "codes" and keeps it
    layout = {id_col, vec_col, "vnorm", "cid"} | ({"codes"} if books else set())
    metadata_cols = [c for c in rows.columns if c not in layout]
    corpus = rows.select(id_col, vec_col, *metadata_cols)
    cent_ids, cent_vecs = collect_centroids(centroids, max_cells=max_cells)
    if books is not None:
        if metric != "l2":
            raise ValueError(
                "the IVF+PQ layout assigns cells with the l2 key (the "
                "build_partitioned_ivfpq convention) — rebalancing it "
                f"with metric={metric!r} would cluster differently than "
                "every search expects; pass metric='l2'"
            )
        fresh = ivfpq_index_rows(
            corpus, cent_ids, cent_vecs, books, id_col=id_col,
            vec_col=vec_col, metadata_cols=metadata_cols,
        )
    else:
        fresh = ivf_index_rows(
            corpus, cent_ids, cent_vecs, id_col=id_col, vec_col=vec_col,
            metric=metric, metadata_cols=metadata_cols,
        )
    _write_index(fresh, target_path, id_col, files_per_cell, books, spark)


def _tombstone_path(index_path: str) -> str:
    return f"{index_path.rstrip('/')}/_tombstones"


def delete_from_partitioned_index(
    spark,
    index_path: str,
    ids,
    id_col: str = "vec_id",
) -> None:
    """Soft-delete vectors from a partitioned ANN index (IVF or
    IVF+PQ): append the ids to the ``_tombstones`` sidecar dataset
    under the index path. Nothing in the 100 TB data files is touched
    — a delete is one tiny parquet append, O(deleted ids), exactly the
    Lucene/table-format deletion-vector design. The underscore prefix
    keeps the sidecar invisible to the index's own parquet scan
    (Hadoop's hidden-path filter, the ``_codebooks.json`` convention),
    so existing readers of the raw dataset are unaffected; the search
    tiers (``ivf_partitioned_topk`` / ``ivfpq_partitioned_topk``)
    anti-join the tombstone set before scoring, and
    ``compact_partitioned_index`` applies deletes physically — the
    compacted copy carries no tombstones.

    ``ids`` is an iterable of id values or a single-column DataFrame.
    Deletes are idempotent (the anti-join doesn't care about
    duplicates). Re-ingesting a previously deleted id does NOT
    resurrect it — the tombstone keeps suppressing the id until a
    compaction applies it; delete-then-reinsert workloads must compact
    between the two (documented contract, same as append-only table
    formats without a reinsert log).

    Ref: composes `/root/reference/awswrangler/s3.py` dataset-append
    semantics; the reference has no index-maintenance analog.
    """
    from aws_data_wrangler_spark import s3

    if isinstance(ids, DataFrame):
        # the caller's id type IS the index's id type — no forced cast
        # (string-id indexes are legal; a mismatched type would make
        # the anti-join silently match nothing)
        tomb = ids.select(F.col(ids.columns[0]).alias(id_col))
    else:
        values = [(i,) for i in ids]
        if not values:
            return  # zero deletions: a no-op, not a schema-inference crash
        tomb = spark.createDataFrame(values).toDF(id_col)
    # one file per delete call, not one per input partition (r13):
    # the tombstone set is deleted-set-sized BY CONTRACT (tiny relative
    # to the corpus), but createDataFrame/DataFrame inputs arrive on
    # default parallelism — unconsolidated, a 20-id delete writes ~20
    # fragment files every search-side load_tombstones must then list
    # and footer-read. repartition(1), NOT coalesce(1): the tiny
    # shuffle costs nothing, while coalesce(1) was MEASURED pathological
    # here (~4.8 s vs 0.66 s per delete at sf0.1 — the narrow coalesce
    # glues onto the local-relation parent and serializes its planning)
    s3.to_parquet(
        tomb.repartition(1), _tombstone_path(index_path), dataset=True,
        mode="append", spark=spark,
    )


def load_tombstones(spark, index_path: str, id_col: str = "vec_id"):
    """The index's deleted-id set as a single-column DataFrame, or
    ``None`` when no delete was ever issued (the hot path: one
    driver-side existence probe, no Spark job)."""
    from aws_data_wrangler_spark import s3
    from aws_data_wrangler_spark.s3._fs import does_object_exist

    path = _tombstone_path(index_path)
    if not does_object_exist(path, spark=spark):
        return None
    return s3.read_parquet(path, dataset=True, spark=spark).select(id_col).distinct()


def _apply_tombstones(rows: DataFrame, tombstones, id_col: str) -> DataFrame:
    """Filter soft-deleted rows out of an index scan. LEFT ANTI join on
    the id: the tombstone side is deleted-set-sized (tiny relative to
    the corpus by contract — AQE broadcasts it at runtime), the scan
    side keeps its partition pruning; rows never shuffle on a
    corpus-cardinality key."""
    if tombstones is None:
        return rows
    return rows.join(
        F.broadcast(tombstones.withColumnRenamed(id_col, "__tomb_id")),
        rows[id_col] == F.col("__tomb_id"),
        "left_anti",
    )


def ivfpq_partitioned_topk(
    spark,
    index_path: str,
    queries: DataFrame,
    centroids: DataFrame,
    codebooks: Optional[List[List[List[float]]]] = None,
    k: int = 5,
    nprobe: int = 4,
    rescore_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cells: int = 100_000,
    where=None,
) -> DataFrame:
    """IVF+PQ top-k over a ``build_partitioned_ivfpq`` index:
    (query_id, neighbor_id, rank, cosine) — value-identical to
    ``ivfpq_topk`` with the same artifacts, but BOTH passes are
    partition-pruned to the probed cells and the ADC pass additionally
    column-prunes to the code columns: candidate scoring reads the
    ~16-32× smaller code table of ~nprobe/num_centroids of the index,
    the exact rescore reads the vector column of the probed cells only
    (both scans carry ``cid IN (<probed>)`` PartitionFilters,
    plan-audited in tests). ``codebooks=None`` loads the index's
    ``_codebooks.json`` sidecar — the build writes it, so a fresh
    session searches with only the path + centroids.

    ``where`` (over the index's ``metadata_cols``) is the metadata
    filter, applied to the ADC CANDIDATE pass only — like tombstones,
    a candidate excluded there can never reach the rescore (the
    shortlist join keys on shortlist ids), and the predicate reaches
    parquet as PushedFilters on the already-pruned code scan.
    """
    if codebooks is None:
        codebooks = load_pq_codebooks(_codebooks_path(index_path), spark=spark)
    cent_ids, cent_vecs = collect_centroids(centroids, max_cells=max_cells)
    q_cells = _probe(queries, id_col, vec_col, cent_ids, cent_vecs, nprobe, codebooks=codebooks)
    cids = _probed_cids(q_cells)
    # ADC pass: partition-pruned AND column-pruned — the vector column
    # never leaves parquet here. Tombstoned ids are filtered from the
    # CANDIDATE pass only: the rescore join keys on shortlist ids, so a
    # deleted id that never reaches the shortlist can't resurface there
    approx = (
        _ivfpq_approx(_live_rows(spark, index_path, cids, id_col, where), q_cells, id_col)
        # crash-duplicated ingest rows (see index_ingest_sink) score
        # identically — collapse them so a duplicate can't occupy two
        # shortlist slots (the ivf_partitioned_topk contract)
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    # exact rescore: the vector column, probed cells only
    vec_scan = _cells_scan(spark, index_path, cids).select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("vnorm").alias("c_norm"),
    )
    rescored = _rescore(approx, k * rescore_factor, vec_scan, queries, id_col, vec_col)
    # duplicated index rows re-multiply through the rescore join
    return _top_k(rescored.dropDuplicates(["query_id", "neighbor_id"]), "cosine", k)


# ---------------------------------------------------------------------------
# Artifact persistence — the production story for the quantized tiers.
# Codebooks/centroids are tiny driver-side artifacts trained once
# (offline, usually on a hash_sample) and shipped into every
# encode/search plan; these helpers make them durable. JSON carries
# the nested-list codebooks (Python json round-trips doubles exactly
# via repr), parquet carries the DataFrame-shaped artifacts
# (centroids, encoded corpora — parquet doubles/ints are exact), so a
# load-then-search is bit-identical to the in-process train-then-search.
# Paths are any Hadoop-FS URI (file:// in tests, s3a:// on a cluster).
# ---------------------------------------------------------------------------


def save_pq_codebooks(
    codebooks: List[List[List[float]]], path: str, spark=None
) -> None:
    """Persist PQ codebooks (``train_pq_codebooks`` output) as JSON."""
    from aws_data_wrangler_spark.s3._fs import _write_json_artifact

    payload = {
        "m": len(codebooks),
        "num_codes": len(codebooks[0]) if codebooks else 0,
        "sub": len(codebooks[0][0]) if codebooks and codebooks[0] else 0,
        "codebooks": codebooks,
    }
    _write_json_artifact("pq_codebooks", payload, path, spark=spark)


def load_pq_codebooks(path: str, spark=None) -> List[List[List[float]]]:
    """Load codebooks saved by ``save_pq_codebooks`` — validated shape,
    floats exact (json round-trips doubles via repr)."""
    from aws_data_wrangler_spark.s3._fs import _read_json_artifact

    payload = _read_json_artifact("pq_codebooks", path, spark=spark)
    books = [
        [[float(x) for x in cent] for cent in book] for book in payload["codebooks"]
    ]
    if len(books) != payload["m"] or any(len(b) != payload["num_codes"] for b in books):
        raise ValueError(f"corrupt pq_codebooks artifact: {path}")
    return books


def save_pca(pca: dict, path: str, spark=None) -> None:
    """Persist a ``train_pca`` artifact as JSON (the ``save_pq_codebooks``
    convention — doubles round-trip exactly via repr), completing the
    trained-artifact persistence set: the PCA pre-transform is trained
    offline like the quantizers it feeds, so it needs the same
    save → ship → ``pca_project`` lifecycle."""
    from aws_data_wrangler_spark.s3._fs import _write_json_artifact

    payload = {
        "dim": len(pca["mean"]),
        "out_dim": len(pca["components"]),
        "mean": [float(x) for x in pca["mean"]],
        "components": [[float(x) for x in c] for c in pca["components"]],
        "explained_variance": [float(x) for x in pca.get("explained_variance", [])],
    }
    _write_json_artifact("pca", payload, path, spark=spark)


def load_pca(path: str, spark=None) -> dict:
    """Load a ``save_pca`` artifact — validated shape, floats exact."""
    from aws_data_wrangler_spark.s3._fs import _read_json_artifact

    payload = _read_json_artifact("pca", path, spark=spark)
    pca = {
        "mean": [float(x) for x in payload["mean"]],
        "components": [[float(x) for x in c] for c in payload["components"]],
        "explained_variance": [float(x) for x in payload["explained_variance"]],
    }
    if len(pca["components"]) != payload["out_dim"] or any(
        len(c) != payload["dim"] for c in pca["components"]
    ):
        raise ValueError(f"corrupt pca artifact: {path}")
    return pca


def save_ivf_centroids(centroids: DataFrame, path: str) -> None:
    """Persist an IVF centroid table (``train_ivf_centroids`` output,
    also the SemDeDup ``centroids=`` shape) as parquet."""
    centroids.select(
        F.col("cid").cast("int").alias("cid"),
        F.col("cvec").cast("array<double>").alias("cvec"),
    ).write.mode("overwrite").parquet(path)


def load_ivf_centroids(spark, path: str) -> DataFrame:
    """Load a centroid table saved by ``save_ivf_centroids``."""
    return spark.read.parquet(path).select("cid", "cvec")


def save_encoded_corpus(encoded: DataFrame, path: str) -> None:
    """Persist an encoded corpus table — ``pq_encode`` output
    (id, codes, approx_norm) or ``quantize_embeddings`` output
    (id, codes, scale) — as parquet, partition-parallel. At 100 TB
    this IS the index build: write once, every search after scans the
    ~16-32× smaller code table instead of the float corpus."""
    encoded.write.mode("overwrite").parquet(path)


def load_encoded_corpus(spark, path: str) -> DataFrame:
    """Load a table saved by ``save_encoded_corpus`` (pass to
    ``pq_topk(encoded=...)`` / ``sq8_topk(quantized=...)``)."""
    return spark.read.parquet(path)


def cell_occupancy(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2",
    max_cells: int = 100_000,
) -> DataFrame:
    """IVF index-balance diagnostic: per-cell occupancy of a centroid
    set over a corpus — (cid, n_vecs, share, imbalance) where
    ``imbalance`` is FAISS's imbalance factor
    ``nlist · Σnᵢ² / (Σnᵢ)²`` (1.0 = perfectly balanced; grows with
    skew — the number that tells you whether nlist/training are right
    BEFORE you pay for a partitioned index build). Empty cells carry no
    row but still count in ``nlist``. Null/degenerate vectors (the
    two-level assigner routes them to a NULL cid) are EXCLUDED — nlist
    counts only real centroids, so a cid=null pseudo-cell would skew
    both the share denominator and the Σnᵢ² term of a diagnostic that
    only describes the index's real cells.

    One zero-shuffle assignment projection + one cell-bounded
    aggregate; every emitted float is a division of exact ints, so the
    diagnostic is bit-identical cross-engine.
    """
    nlist = centroids.count()  # artifact-sized
    assigned = assign_cells(
        df, centroids, id_col=id_col, vec_col=vec_col, metric=metric, max_cells=max_cells
    )
    per_cell = (
        assigned.filter(F.col("cid").isNotNull())
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    # squares/products run in DOUBLE on purpose: Σnᵢ² and total²
    # overflow int64 at real corpus sizes (1e11 rows → total² ≈ 1e22),
    # and doubles over exact ints stay bit-identical cross-engine at
    # diagnostic magnitudes
    n_d = F.col("n_vecs").cast("double")
    totals = per_cell.agg(
        F.sum(n_d).alias("__total"),
        F.sum(n_d * n_d).alias("__sq"),
    )
    return (
        per_cell.crossJoin(F.broadcast(totals))
        .select(
            "cid",
            "n_vecs",
            (n_d / F.col("__total")).alias("share"),
            (
                F.lit(float(nlist))
                * F.col("__sq")
                / (F.col("__total") * F.col("__total"))
            ).alias("imbalance"),
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "cosine",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``k`` results per query maximizing
    ``λ·relevance − (1−λ)·max_sim_to_already_selected`` — the standard
    diversity-aware re-rank of an ANN shortlist (near-duplicate hits
    stop crowding out distinct ones). Input is any top-k table
    (query_id, neighbor_id, relevance) — ``cosine_topk``/``lsh_topk``/
    ``ivf*_topk`` output — plus the corpus to fetch candidate vectors;
    returns (query_id, neighbor_id, mmr_rank, mmr_score), rank 1 =
    most relevant (the greedy seed), ties → lowest neighbor_id.

    The greedy loop is ``k`` UNROLLED DataFrame iterations (argmax
    window + one broadcast join per step, all over the RESULT-sized
    candidate table — never the corpus), with pairwise similarities as
    sequential JVM dot-product folds: the same arithmetic the DuckDB
    oracles replicate bit-for-bit, so no Python/BLAS summation-order
    drift. Plan depth grows with k; k is a result-page constant by
    contract.
    """
    vecs = corpus.select(
        F.col(id_col).alias("__nid"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn(
        "__nrm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("__v"), lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ),
    )
    cand = (
        candidates.select(
            "query_id",
            F.col("neighbor_id"),
            F.col(rel_col).cast("double").alias("__rel"),
        )
        .join(vecs, F.col("neighbor_id") == F.col("__nid"))
        .drop("__nid")
        .withColumn("__max_sim", F.lit(None).cast("double"))
    )
    picks = []
    remaining = cand
    for r in range(1, k + 1):
        score = F.when(F.col("__max_sim").isNull(), F.col("__rel")).otherwise(
            F.lit(lam) * F.col("__rel") - F.lit(1 - lam) * F.col("__max_sim")
        )
        w = Window.partitionBy("query_id").orderBy(
            score.desc(), F.col("neighbor_id").asc()
        )
        pick = (
            remaining.withColumn("__score", score)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                "query_id",
                F.col("neighbor_id").alias("__sel_id"),
                F.col("__v").alias("__sel_v"),
                F.col("__nrm").alias("__sel_nrm"),
                F.col("__score"),
            )
        )
        picks.append(
            pick.select(
                "query_id",
                F.col("__sel_id").alias("neighbor_id"),
                F.lit(r).alias("mmr_rank"),
                trunc_digits(F.col("__score")).alias("mmr_score"),
            )
        )
        if r == k:
            break
        sim = _dot_expr(F.col("__v"), F.col("__sel_v")) / (
            F.col("__nrm") * F.col("__sel_nrm")
        )
        remaining = (
            remaining.join(
                F.broadcast(pick.drop("__score")), "query_id"
            )
            .filter(F.col("neighbor_id") != F.col("__sel_id"))
            .withColumn(
                "__max_sim",
                F.when(F.col("__max_sim").isNull(), sim).otherwise(
                    F.greatest(F.col("__max_sim"), sim)
                ),
            )
            .drop("__sel_id", "__sel_v", "__sel_nrm")
        )
    out = picks[0]
    for extra in picks[1:]:
        out = out.unionByName(extra)
    return out


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Per-query recall of an approximate ANN result against the exact
    ground truth: (query_id, n_exact, n_hit, recall) where recall =
    |approx ∩ exact| / |exact| — the index-quality metric every ANN
    deployment tracks (FAISS's recall@k). Queries present in ``exact``
    but absent from ``approx`` (an index that returned nothing) score
    0.0 rather than disappearing.

    Both inputs are top-k tables (≤ k·|queries| rows — result-sized,
    never corpus-sized), so the intersection is one equi-join on
    (query, neighbor) and the rollup one aggregate. The recall double
    is a division of two exact ints — bit-identical in any engine.
    """
    e = exact.select(
        F.col(query_col).alias("query_id"), F.col(neighbor_col).alias("neighbor_id")
    )
    a = approx.select(
        F.col(query_col).alias("query_id"),
        F.col(neighbor_col).alias("neighbor_id"),
        F.lit(1).alias("__hit"),
    )
    joined = e.join(a, ["query_id", "neighbor_id"], "left")
    return (
        joined.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("__hit").alias("n_hit"),
        )
        .withColumn("recall", F.col("n_hit") / F.col("n_exact"))
    )


# --- dimension statistics + PCA pre-transform ---------------------------
#
# The embedding-pipeline preprocessing tier: per-dimension statistics
# (the feature-scaling / dead-dimension diagnostic) and a PCA
# pre-transform (the FAISS PCAMatrix shape — rotate/reduce before SQ8
# or PQ so the quantizer spends its budget on directions that carry
# variance). Training aggregates distributed moments; the projection
# is a zero-shuffle literal matmul, the assign_cells discipline.


def embedding_dim_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension statistics of a vector column: (dim, n, mean,
    var_pop, min_val, max_val), dim 1-based. One ``posexplode`` +
    hash aggregate with map-side partials — the shuffle moves
    tasks×dim partial rows, never the corpus. The variance is the
    moment form sum(x²)/n − mean² (replicated term-for-term by the
    oracle); mean/var are 6dp floor-truncated on output, min/max are
    exact doubles (comparisons, not arithmetic)."""
    x = df.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("__pos", "__x")
    )
    agg = x.groupBy("__pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("__s"),
        F.sum(F.col("__x") * F.col("__x")).alias("__s2"),
        F.min("__x").alias("min_val"),
        F.max("__x").alias("max_val"),
    )
    mean = F.col("__s") / F.col("n")
    return agg.select(
        (F.col("__pos") + 1).cast("int").alias("dim"),
        "n",
        trunc_digits(mean).alias("mean"),
        trunc_digits(F.col("__s2") / F.col("n") - mean * mean).alias("var_pop"),
        "min_val",
        "max_val",
    )


def train_pca(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 16,
) -> dict:
    """Train a PCA pre-transform (the FAISS ``PCAMatrix`` contract):
    returns ``{"mean", "components", "explained_variance"}`` with
    ``out_dim`` orthonormal components sorted by explained variance
    descending. Distributed part = ONE pass accumulating the exact
    moment sums (the per-row flat outer product explodes to dim² keyed
    rows, hash-aggregated with map-side partials — the shuffle is
    tasks×dim² partial rows, never corpus-sized; at very large dim
    train on a sample, the FAISS practice, since cov is dim²).
    Driver part = a dim×dim numpy ``eigh`` on the assembled covariance
    — artifact-sized, like every quantizer-training collect in this
    module. Component SIGNS are normalized (largest-|coefficient|
    entry positive) so training is deterministic up to float-sum
    ordering."""
    import numpy as np

    dim_row = df.select(
        F.size(F.col(vec_col).cast("array<double>")).alias("d")
    ).first()
    if dim_row is None:
        raise ValueError("train_pca: empty corpus")
    dim = dim_row["d"]
    if not (0 < out_dim <= dim):
        raise ValueError(f"out_dim must be in 1..{dim}, got {out_dim}")
    v = F.col(vec_col).cast("array<double>")
    outer = F.flatten(
        F.transform(v, lambda xi: F.transform(v, lambda xj: xi * xj))
    )
    moments = (
        df.select(F.posexplode(F.concat(v, outer)).alias("__pos", "__x"))
        .groupBy("__pos")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("__x").alias("s"))
        .collect()
    )
    ns = {r["n"] for r in moments}
    if len(ns) != 1 or len(moments) != dim + dim * dim:
        raise ValueError(
            "train_pca: ragged vector lengths (per-position counts "
            f"{sorted(ns)} over {len(moments)} positions, expected one "
            f"count over {dim + dim * dim}) — PCA needs a fixed dim"
        )
    n = moments[0]["n"]
    flat = np.zeros(dim + dim * dim)
    for r in moments:
        flat[r["__pos"]] = r["s"]
    mean = flat[:dim] / n
    cov = flat[dim:].reshape(dim, dim) / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:out_dim]
    comps = vecs[:, order].T  # out_dim × dim
    # deterministic sign: the largest-|coefficient| entry is positive
    for i in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[i])))
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    return {
        "mean": [float(x) for x in mean],
        "components": [[float(x) for x in row] for row in comps],
        "explained_variance": [float(vals[i]) for i in order],
    }


def pca_project(
    df: DataFrame,
    pca: dict,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Apply a ``train_pca`` artifact: adds ``out_col`` =
    components · (x − mean) as a ZERO-shuffle projection — mean and
    components ship as two ``from_json``-folded plan literals, the
    matmul is out_dim JVM dot-product folds per row. The downstream
    quantizer (``sq8_topk`` / ``pq_topk`` / the partitioned builds)
    consumes ``out_col`` like any vector column."""
    mean_lit = _nested_lit(pca["mean"], "array<double>")
    comps_lit = _nested_lit(pca["components"], "array<array<double>>")
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), mean_lit, lambda x, m: x - m
    )
    return df.withColumn(
        out_col,
        F.transform(comps_lit, lambda c: _dot_expr(centered, c)),
    )
