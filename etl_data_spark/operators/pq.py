"""Product quantization: ADC-scored ANN over code arrays, not vectors.

The missing storage axis of the ANN family (similarity.py): the LSH/IVF
layouts prune WHICH rows a probe reads, PQ shrinks WHAT each row costs —
an m-byte code array replaces the d-float vector (dim 64 float32 = 256
bytes -> m=4 ints), and queries score codes via a driver-built lookup
table (ADC, asymmetric distance computation) without ever touching a
vector. Composed with the IVF layout (``write_ivf_pq``) this is the
IVF-PQ index every production vector store ships (FAISS IndexIVFPQ,
Jegou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011): partition-pruned probe × code-only scan.

Design for 100 TB:
- TRAINING is sample-based (industry practice — FAISS trains on a slice):
  a bounded, deterministic driver-side sample (lowest-id rows) fits k
  centroids per subspace with seeded Lloyd; nothing data-scaled runs on
  the driver.
- ENCODE is a narrow Column-only map: per subspace, argmin over k literal
  centroids (codebooks baked into the plan) — no shuffle, no UDF, whole-
  stage codegen.
- SCORING reads (id, code) only — parquet column pruning never touches
  the vector column — and evaluates ``sum_s LUT[s][code_s]`` as literal
  array lookups; top-k is a TakeOrderedAndProject.
- Everything is DETERMINISTIC given the codebooks (first-k init, fixed
  iterations, first-match argmin ties), so a SQL oracle replays encode +
  ADC end-to-end with the codebooks as literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_data_spark.io import layout as L
from etl_data_spark.operators import _sqlexpr as _sx
from etl_data_spark.operators.similarity import (
    _auto_centroids,
    _cells,
    _centroids_jsonable,
    ivf_assign,
    ivf_probes,
)


def train_pq(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    sample_rows: int = 2048,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Fit per-subspace codebooks on a bounded deterministic sample.

    Returns ``codebooks[s][c] = centroid (d/m floats)`` for ``m``
    subspaces x ``k`` codes. The sample is the ``sample_rows`` lowest-id
    vectors (bounded driver collect — the same determinism contract as
    ``similarity.sample_centroids``); init is the first ``k`` subvectors,
    refined with ``iters`` L2 Lloyd passes (empty cells keep their
    previous centroid). No RNG anywhere, so retraining on the same data
    reproduces the same codebooks bit-for-bit.
    """
    return _fit_codebooks(
        _training_sample(df, None, sample_rows, id_col, vec_col),
        m, k, iters,
    )


def _training_sample(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]] | None,
    sample_rows: int,
    id_col: str,
    vec_col: str,
):
    """The bounded deterministic trainer sample as a numpy matrix —
    raw vectors, or coarse residuals when ``centroids`` is given (the
    shared collection step of every PQ/OPQ trainer)."""
    import numpy as np

    if centroids is None:
        rows = (
            df.orderBy(id_col).limit(sample_rows).select(vec_col).collect()
        )
        return np.asarray([list(r[0]) for r in rows], dtype=np.float64)

    cmap = {int(c): np.asarray(v, dtype=np.float64) for c, v in centroids}
    rows = (
        ivf_assign(df, centroids, vec_col)
        .orderBy(id_col)
        .limit(sample_rows)
        .select(vec_col, "cell")
        .collect()
    )
    return np.asarray(
        [np.asarray(list(r[0]), dtype=np.float64) - cmap[r[1]] for r in rows]
    )


def _fit_codebooks(mat, m: int, k: int, iters: int) -> list[list[list[float]]]:
    """Per-subspace seeded Lloyd over a driver-side sample matrix — the
    shared trainer for raw (:func:`train_pq`) and residual
    (:func:`train_pq_residual`) spaces. First-k init, first-match argmin
    ties, empty cells keep their previous centroid; no RNG."""
    d = mat.shape[1]
    if d % m:
        raise ValueError(f"train_pq: dim {d} not divisible by m={m}")
    sub = d // m
    books: list[list[list[float]]] = []
    for s in range(m):
        block = mat[:, s * sub : (s + 1) * sub]
        cents = block[:k].copy()
        for _ in range(iters):
            # assign: argmin squared L2, first-match ties
            d2 = ((block[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(k):
                members = block[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append([[float(x) for x in c] for c in cents])
    return books


def train_pq_residual(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    m: int = 4,
    k: int = 16,
    sample_rows: int = 2048,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Fit codebooks on coarse-quantization RESIDUALS ``x −
    centroid(cell(x))`` — the space IVF-PQ actually encodes (FAISS
    IndexIVFPQ, Jegou et al. §IV): residuals concentrate near zero with
    far less variance than raw vectors, so the same k codes cover them
    much more tightly. Assignment comes from the DISTRIBUTED
    ``ivf_assign`` (the exact rule the encode path uses); only the
    bounded sample is collected and subtracted driver-side."""
    return _fit_codebooks(
        _training_sample(df, centroids, sample_rows, id_col, vec_col),
        m, k, iters,
    )


def _centroid_map_expr(
    centroids: list[tuple[int, list[float]]],
) -> "F.Column":
    """``map<cell, centroid array>`` as one plan literal — the coarse
    quantizer for residual arithmetic (one lookup per row, no join).
    Rendered as SQL text and parsed once (r13: the nested ``F.lit``
    build cost k*d py4j round-trips; the parsed expression is
    identical)."""
    keys = "array(" + ", ".join(str(int(c)) for c, _ in centroids) + ")"
    vals = "array(" + ", ".join(_sx.dbl_array(v) for _, v in centroids) + ")"
    return F.expr(f"map_from_arrays({keys}, {vals})")


def residual_expr(
    vec_col: str, centroids: list[tuple[int, list[float]]], cell_col: str = "cell"
) -> "F.Column":
    """``x − centroid(cell)`` as a Column (zip_with over the literal
    centroid map) — narrow, codegen'd, no shuffle."""
    return F.zip_with(
        F.col(vec_col),
        F.element_at(_centroid_map_expr(centroids), F.col(cell_col)),
        lambda x, y: x.cast("double") - y,
    )


def _sq_l2(a, b) -> "F.Column":
    """Squared L2 between two array columns (zip_with + left-to-right
    aggregate — the evaluation order the DuckDB oracle mirrors)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Quantize ``vec_col`` into an ``array<int>`` of per-subspace code
    ids — a narrow Column-only map (codebooks are plan literals; argmin
    via array_position of array_min, first match, so ties break to the
    lowest code id in both engines). The vector column is untouched;
    drop it after encoding to realize the storage win.

    r13: the expression is rendered as SQL text and parsed once —
    building the identical tree through nested ``F.lit``/``F.array``
    cost 4.16s of py4j round-trips at m=8, k=16, d=64 (vs 0.66s parsed;
    same executed plan, byte-identical codes)."""
    sub = len(codebooks[0][0])
    codes = []
    for s, book in enumerate(codebooks):
        sv = f"slice(`{vec_col}`, {s * sub + 1}, {sub})"
        dists = (
            "array("
            + ", ".join(_sx.sq_l2_lit(sv, cent) for cent in book)
            + ")"
        )
        codes.append(
            f"CAST((array_position({dists}, array_min({dists})) - 1) AS INT)"
        )
    return df.withColumn(out_col, F.expr("array(" + ", ".join(codes) + ")"))


def pq_adc_lut(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """Driver-side ADC lookup table: ``lut[s][c]`` = squared L2 between
    the query's s-th subvector and codebook entry c — m*k floats, built
    once per query in pure Python (exact double arithmetic, matching the
    engine-side training floats)."""
    sub = len(codebooks[0][0])
    lut = []
    for s, book in enumerate(codebooks):
        q = query_vec[s * sub : (s + 1) * sub]
        lut.append(
            [
                float(sum((qi - ci) * (qi - ci) for qi, ci in zip(q, cent)))
                for cent in book
            ]
        )
    return lut


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Approximate top-k by ADC over PQ codes: score = sum over
    subspaces of ``LUT[s][code_s]`` — literal array lookups over the
    (id, code) columns ONLY (the scan never reads vectors; with the code
    column stored beside the ids, a 100 TB float corpus serves from the
    ~3% of bytes its codes occupy). Ascending distance, id tiebreak;
    distances rounded to 6dp at the emit boundary (one rounding rule
    shared with the SQL oracle)."""
    score = _adc_score_expr(pq_adc_lut(query_vec, codebooks), code_col)
    return (
        df.select(
            F.col(id_col),
            F.round(score, 6).alias("adc_dist"),
        )
        .orderBy(F.asc("adc_dist"), F.asc(id_col))
        .limit(k)
    )


def _adc_score_expr(
    lut: list[list[float]], code_col: str = "pq_code"
) -> "F.Column":
    """``sum_s LUT[s][code_s]`` as literal array lookups over the code
    column — the shared ADC kernel (global LUT for raw encodings,
    per-probed-cell LUTs for residual ones). SQL-text parsed (r13):
    identical left-associated sum, one py4j call instead of m*k."""
    terms = [
        f"element_at({_sx.dbl_array(row)}, "
        f"element_at(`{code_col}`, {s + 1}) + 1)"
        for s, row in enumerate(lut)
    ]
    return F.expr(" + ".join(f"({t})" for t in terms))


def pq_topk_rerank(
    codes: DataFrame,
    vectors: DataFrame,
    query_vec: list[float],
    codebooks: list[list[list[float]]],
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ with exact rerank — the production recipe (FAISS's refine
    stage): ADC over the code column shortlists ``shortlist`` candidates
    (corpus scan reads codes only), then ONLY those rows' vectors are
    fetched (broadcast semi of shortlist ids — k-row frame by
    construction) and scored exactly. Recall approaches exact search
    while the corpus-sized read stays code-sized: at 100 TB of float
    vectors the scan costs ~m bytes/row + ``shortlist`` full vectors.
    Returns (id, l2_dist) ascending with id tiebreak, rounded 6dp."""
    short = pq_topk(
        codes, query_vec, codebooks, k=shortlist, id_col=id_col,
        code_col=code_col,
    ).select(id_col)
    q = F.expr(_sx.dbl_array(query_vec))
    return (
        vectors.join(F.broadcast(short), id_col)
        .select(
            F.col(id_col),
            F.round(_sq_l2(F.col(vec_col), q), 6).alias("l2_dist"),
        )
        .orderBy(F.asc("l2_dist"), F.asc(id_col))
        .limit(k)
    )


# --------------------------------------------------------------------------
# IVF-PQ at rest: the composed index (FAISS IndexIVFPQ + refine)
# --------------------------------------------------------------------------


def write_ivf_pq(
    df: DataFrame,
    path: str,
    centroids: list[tuple[int, list[float]]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    target_cell_rows: int = 4096,
    n_rows: int | None = None,
    refine_iters: int = 1,
    pq_m: int = 8,
    pq_k: int = 16,
    pq_sample_rows: int = 2048,
    pq_iters: int = 5,
    keep_vectors: bool = True,
    residual: bool = True,
    opq: bool = False,
    rotation: list[list[float]] | None = None,
) -> None:
    """Materialize the IVF-PQ layout: cell-partitioned parquet rows of
    ``(id, pq_code[, vector])``. Both quantizers train at write time when
    not supplied — the coarse one auto-sized like ``write_ivf_partitioned``
    (k = ceil(n/target), distributed Lloyd), the product one on a bounded
    deterministic sample (:func:`train_pq` / :func:`train_pq_residual`).
    Probes then cost a partition-PRUNED scan of ~m-byte code rows: the
    two reductions compose — WHICH rows (IVF pruning) x WHAT each row
    costs (PQ codes). ``keep_vectors=True`` (default) stores the vector
    column beside the codes so probes can exact-rerank their shortlist;
    parquet column pruning keeps code-only probes from ever reading it.
    Parameters are recorded in the layout's sidecar (kind ``ivf_pq``);
    input columns ``cell``/``pq_code`` are rejected.

    ``residual=True`` (default, r12): PQ-encode the RESIDUAL
    ``x − centroid(cell)`` instead of the raw vector — the canonical
    IndexIVFPQ construction (Jegou et al. §IV): residuals concentrate
    near zero, so the same code budget quantizes them far more tightly
    and ADC-only recall rises at equal m/k (measured in SCALE.md's r12
    addendum). Probes derive their per-cell LUT from
    ``query − centroid(cell)``; determinism is unchanged (centroids and
    codebooks stay plan literals). ``residual=False`` reproduces the r11
    raw-encoding layout; the sidecar records which one the directories
    physically are.

    ``opq=True`` (r13): learn an orthogonal ROTATION before encoding
    (:func:`train_opq_residual` / :func:`train_opq` — Ge et al., OPQ)
    and encode the rotated (residual) vector; an explicit ``rotation``
    skips the training. The rotation persists in the sidecar, probes
    build their LUTs from the rotated query (driver-side d x d matvec —
    the executor-side scan stays code-only, byte-identical plan shape to
    the unrotated layout), and exact rerank is untouched (L2 is
    rotation-invariant, stored vectors stay raw)."""
    if centroids is None:
        centroids = _auto_centroids(
            df, target_cell_rows, n_rows, refine_iters, id_col, vec_col
        )
    if opq and rotation is None and codebooks is None:
        trainer = train_opq_residual if residual else train_opq
        kwargs = {"centroids": centroids} if residual else {}
        rotation, codebooks = trainer(
            df, m=pq_m, k=pq_k, sample_rows=pq_sample_rows, iters=pq_iters,
            id_col=id_col, vec_col=vec_col, **kwargs,
        )
    elif codebooks is None:
        if rotation is not None:
            # explicit rotation: fit codebooks in the ROTATED encoding
            # space the codes will live in (rotate the residual/raw
            # sample driver-side, then the shared Lloyd)
            mat = _training_sample(
                df, centroids if residual else None, pq_sample_rows,
                id_col, vec_col,
            )
            codebooks = _fit_codebooks(
                _rotate_rows(mat, rotation), pq_m, pq_k, pq_iters
            )
        else:
            trainer = train_pq_residual if residual else train_pq
            kwargs = {"centroids": centroids} if residual else {}
            codebooks = trainer(
                df, m=pq_m, k=pq_k, sample_rows=pq_sample_rows,
                iters=pq_iters, id_col=id_col, vec_col=vec_col, **kwargs,
            )
    cols = [id_col, "pq_code", "cell"] + ([vec_col] if keep_vectors else [])
    L.write(
        L.IVF_PQ,
        df,
        path,
        lambda d: _encode_for_layout(
            ivf_assign(d, centroids, vec_col), centroids, codebooks,
            vec_col, residual, rotation,
        ).select(*cols),
        {
            "centroids": _centroids_jsonable(centroids),
            "codebooks": codebooks,
            "vec_col": vec_col,
            "id_col": id_col,
            "has_vectors": bool(keep_vectors),
            "encoding": "residual" if residual else "raw",
            **({"rotation": rotation} if rotation is not None else {}),
        },
    )


def _encode_for_layout(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    vec_col: str,
    residual: bool,
    rotation: list[list[float]] | None = None,
) -> DataFrame:
    """PQ-encode an ``ivf_assign``ed frame in the layout's encoding
    space: residual layouts encode ``x − centroid(cell)`` (one literal
    map lookup + zip_with, still a narrow codegen'd map), raw layouts
    the vector itself; an OPQ layout rotates the (residual) vector with
    the literal matrix first — still one narrow codegen'd map."""
    if not residual and rotation is None:
        return pq_encode(assigned, codebooks, vec_col)
    # let-bind the residual into a real column BEFORE rotating: the
    # rotation chain references its input d times per output dim, and a
    # computed expression there would re-evaluate the residual d^2
    # times (SCALE.md §17 let-binding discipline)
    out = assigned
    if residual:
        out = out.withColumn(
            "_resid", residual_expr(vec_col, centroids, "cell")
        )
        enc_col = "_resid"
    else:
        enc_col = vec_col
    if rotation is not None:
        out = out.withColumn("_rotv", _rotate_expr(enc_col, rotation))
        enc_col = "_rotv"
    return (
        out.transform(lambda d: pq_encode(d, codebooks, enc_col))
        .drop("_resid", "_rotv")
    )


def ivfpq_topk_at_rest(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    shortlist: int | None = None,
) -> DataFrame:
    """Serve top-k from a ``write_ivf_pq`` layout: the probe cells become
    a PartitionFilter (scan reads ~n_probe/k_cells of the DIRECTORIES)
    and the ADC score reads only the (id, code) COLUMNS of those rows —
    the composed I/O story. With ``shortlist`` set (layout written
    ``keep_vectors=True``), the ADC shortlist is exact-reranked against
    the stored vectors of the SAME pruned scan (broadcast shortlist ids,
    map-only) and the result carries exact ``l2_dist``; without it the
    result carries ``adc_dist``. All parameters resolve from the
    sidecar, INCLUDING the encoding space: a residual layout scores each
    probed cell against its own LUT built from ``query −
    centroid(cell)`` (n_probe tiny literal tables chained in one CASE —
    the scan stays code-only either way)."""
    meta = L.open(spark, L.IVF_PQ, path, "ivfpq_topk_at_rest")
    cents = _cells(meta)
    books = meta["codebooks"]
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    res = meta.get("encoding", "raw") == "residual"
    rot = meta.get("rotation")
    probes = ivf_probes(query_vec, cents, n_probe)
    scan = spark.read.parquet(path).filter(F.col("cell").isin(probes))

    if res:
        cmap = dict(cents)
        score = None
        for c in probes:
            qres = [q - x for q, x in zip(query_vec, cmap[c])]
            if rot is not None:
                # OPQ layout: the stored codes live in the rotated
                # residual space — rotate the query residual driver-side
                # (d x d matvec; the scan's plan is unchanged)
                qres = _rotate_vec_py(qres, rot)
            cell_score = _adc_score_expr(pq_adc_lut(qres, books))
            score = (
                F.when(F.col("cell") == c, cell_score)
                if score is None
                else score.when(F.col("cell") == c, cell_score)
            )
        adc = (
            scan.select(
                F.col(id_col), F.round(score, 6).alias("adc_dist")
            )
            .orderBy(F.asc("adc_dist"), F.asc(id_col))
        )
        if shortlist is None:
            return adc.limit(k)
        short = adc.limit(shortlist).select(id_col)
    elif shortlist is None:
        q_enc = _rotate_vec_py(query_vec, rot) if rot is not None else query_vec
        return pq_topk(
            scan.select(id_col, "pq_code"), q_enc, books, k=k,
            id_col=id_col,
        )
    else:
        q_enc = _rotate_vec_py(query_vec, rot) if rot is not None else query_vec
        short = pq_topk(
            scan.select(id_col, "pq_code"), q_enc, books,
            k=shortlist, id_col=id_col,
        ).select(id_col)
    if not meta.get("has_vectors"):
        raise ValueError(
            "ivfpq_topk_at_rest: shortlist rerank needs a layout written "
            "with keep_vectors=True — this one stores codes only."
        )
    q = F.expr(_sx.dbl_array(query_vec))
    return (
        scan.select(id_col, vec_col)
        .join(F.broadcast(short), id_col)
        .select(
            F.col(id_col),
            F.round(_sq_l2(F.col(vec_col), q), 6).alias("l2_dist"),
        )
        .orderBy(F.asc("l2_dist"), F.asc(id_col))
        .limit(k)
    )


def append_ivf_pq(df: DataFrame, path: str) -> None:
    """Incremental maintenance of a ``write_ivf_pq`` layout: new vectors
    coarse-assign and PQ-encode under the layout's OWN quantizers (both
    resolve from the sidecar — there is no explicit-parameter form, the
    layout is always sidecar-stamped) and dynamic-partition-append into
    their cell directories. Untouched cells are never rewritten; a
    growing corpus costs writes proportional to the batch. The composed
    twin of ``append_ivf_partitioned`` / ``append_ann_bucketed``; fold
    accumulated append files with ``similarity.compact_layout``, and
    under drift rewrite with ``write_ivf_pq`` (both quantizers retrain at
    the current corpus — the IVF-PQ analogue of ``retrain_ivf_layout``)."""
    op = "append_ivf_pq"
    meta = L.open(df.sparkSession, L.IVF_PQ, path, op)
    cents = _cells(meta)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    cols = [id_col, "pq_code", "cell"] + (
        [vec_col] if meta.get("has_vectors") else []
    )
    L.append(
        L.IVF_PQ,
        df,
        path,
        lambda d: _encode_for_layout(
            ivf_assign(d, cents, vec_col),
            cents,
            meta["codebooks"],
            vec_col,
            meta.get("encoding", "raw") == "residual",
            meta.get("rotation"),
        ).select(*cols),
        meta,
        op,
    )


# --------------------------------------------------------------------------
# Scalar quantization (SQ8): the other point on the compression spectrum
# --------------------------------------------------------------------------


def train_sq8(
    df: DataFrame,
    sample_rows: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Per-dimension [min, max] bounds from a bounded deterministic
    sample (lowest-id rows — the same contract as :func:`train_pq`):
    the trained state of FAISS-style SQ8. Returns
    ``{"mins": [d floats], "maxs": [d floats]}``."""
    rows = df.orderBy(id_col).limit(sample_rows).select(vec_col).collect()
    cols = list(zip(*(list(r[0]) for r in rows)))
    return {
        "mins": [float(min(c)) for c in cols],
        "maxs": [float(max(c)) for c in cols],
    }


def _sq8_scales(bounds: dict) -> list[float]:
    """Per-dim dequantization step (range/255; 0.0 for a degenerate
    constant dimension, whose every code is 0)."""
    return [
        (hi - lo) / 255.0 if hi > lo else 0.0
        for lo, hi in zip(bounds["mins"], bounds["maxs"])
    ]


def sq8_encode(
    df: DataFrame,
    bounds: dict,
    vec_col: str = "embedding",
    out_col: str = "sq_code",
) -> DataFrame:
    """Quantize ``vec_col`` to per-dim uint8 codes (stored array<int>):
    code = round((x - min) / step), clamped to [0, 255] — a narrow
    Column-only map with the bounds baked in as plan literals (4x
    smaller than float32 at much higher fidelity than PQ's 32x — the
    classic recall/compression trade both points of which this module
    now covers). Out-of-sample values clamp (saturating quantizer);
    positive-domain round is HALF_UP in both engines, so the SQL oracle
    replays codes exactly."""
    mins_lit = F.expr(_sx.dbl_array(bounds["mins"]))
    # inv computed as 255/(hi-lo) directly — NOT 1/step — so the SQL
    # oracle's identical expression produces bit-equal doubles
    inv_lit = F.expr(
        _sx.dbl_array(
            255.0 / (hi - lo) if hi > lo else 0.0
            for lo, hi in zip(bounds["mins"], bounds["maxs"])
        )
    )
    shifted = F.zip_with(
        F.col(vec_col), mins_lit, lambda x, lo: x.cast("double") - lo
    )
    codes = F.zip_with(
        shifted,
        inv_lit,
        lambda v, inv: F.least(
            F.greatest(F.round(v * inv, 0).cast("int"), F.lit(0)),
            F.lit(255),
        ),
    )
    return df.withColumn(out_col, codes)


def _sq8_dist_expr(
    query_vec: list[float], bounds: dict, code_col: str = "sq_code"
) -> "F.Column":
    """Squared L2 between the query and the DEQUANTIZED code:
    sum_i (q_i - min_i - code_i*step_i)^2, evaluated as two zip_with
    passes over plan literals + one left-to-right fold (the order the
    SQL oracle mirrors)."""
    scales = _sq8_scales(bounds)
    qm_lit = F.expr(
        _sx.dbl_array(q - lo for q, lo in zip(query_vec, bounds["mins"]))
    )
    sc_lit = F.expr(_sx.dbl_array(scales))
    deq = F.zip_with(
        F.col(code_col), sc_lit, lambda c, s: c.cast("double") * s
    )
    diff = F.zip_with(deq, qm_lit, lambda d, qm: (qm - d) * (qm - d))
    return F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v)


def sq8_topk(
    df: DataFrame,
    query_vec: list[float],
    bounds: dict,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "sq_code",
) -> DataFrame:
    """Approximate top-k over SQ8 codes only — the scan reads (id, code)
    and never a float vector (1/4 the bytes). Ascending distance, id
    tiebreak, 6dp at the emit boundary."""
    return (
        df.select(
            F.col(id_col),
            F.round(_sq8_dist_expr(query_vec, bounds, code_col), 6).alias(
                "sq_dist"
            ),
        )
        .orderBy(F.asc("sq_dist"), F.asc(id_col))
        .limit(k)
    )


def sq8_topk_rerank(
    codes: DataFrame,
    vectors: DataFrame,
    query_vec: list[float],
    bounds: dict,
    k: int = 10,
    shortlist: int = 50,
    id_col: str = "vec_id",
    code_col: str = "sq_code",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 with exact rerank: the code-only scan shortlists ``shortlist``
    candidates, then only those rows' vectors are fetched (broadcast of
    the bounded id frame) and scored exactly — at 8 bits/dim the
    shortlist is already near-exact, so recall approaches 1.0 at small
    shortlists where PQ needs 10x (the trade the two quantizers span)."""
    short = sq8_topk(
        codes, query_vec, bounds, k=shortlist, id_col=id_col,
        code_col=code_col,
    ).select(id_col)
    q = F.expr(_sx.dbl_array(query_vec))
    return (
        vectors.join(F.broadcast(short), id_col)
        .select(
            F.col(id_col),
            F.round(_sq_l2(F.col(vec_col), q), 6).alias("l2_dist"),
        )
        .orderBy(F.asc("l2_dist"), F.asc(id_col))
        .limit(k)
    )


def write_sq8(
    df: DataFrame,
    path: str,
    bounds: dict | None = None,
    sample_rows: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vectors: bool = True,
) -> None:
    """Materialize the SQ8 layout: (id, sq_code[, vector]) parquet with
    the bounds recorded in the layout's sidecar (kind ``sq8``) — probes
    and appends dequantize under the EXACT bounds the codes were written
    with (a mismatched bound set would silently skew every distance); an
    input ``sq_code`` column is rejected. ``keep_vectors=True`` stores
    the float vectors beside the codes for exact rerank; column pruning
    keeps code-only probes from reading them. Unlike IVF layouts there is
    no partition pruning — SQ8's win is the 4x byte reduction of the full
    scan (compose with ``write_ivf_pq`` when you want WHICH-row pruning
    too)."""
    if bounds is None:
        bounds = train_sq8(df, sample_rows, id_col, vec_col)
    cols = [id_col, "sq_code"] + ([vec_col] if keep_vectors else [])
    L.write(
        L.SQ8,
        df,
        path,
        lambda d: sq8_encode(d, bounds, vec_col).select(*cols),
        {
            "mins": [float(v) for v in bounds["mins"]],
            "maxs": [float(v) for v in bounds["maxs"]],
            "id_col": id_col,
            "vec_col": vec_col,
            "has_vectors": bool(keep_vectors),
        },
    )


def append_sq8(df: DataFrame, path: str) -> None:
    """Append a batch under the layout's OWN bounds (sidecar-resolved;
    saturating encode absorbs out-of-sample values). Untouched files are
    never rewritten."""
    op = "append_sq8"
    meta = L.open(df.sparkSession, L.SQ8, path, op)
    bounds = {"mins": meta["mins"], "maxs": meta["maxs"]}
    cols = [meta["id_col"], "sq_code"] + (
        [meta["vec_col"]] if meta.get("has_vectors") else []
    )
    L.append(
        L.SQ8,
        df,
        path,
        lambda d: sq8_encode(d, bounds, meta["vec_col"]).select(*cols),
        meta,
        op,
    )


def sq8_topk_at_rest(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    shortlist: int | None = None,
) -> DataFrame:
    """Serve top-k from a ``write_sq8`` layout: the scan reads the
    (id, code) COLUMNS only (the stored vectors, if any, are column-
    pruned away); with ``shortlist`` set the candidates exact-rerank
    against the stored vectors of the same layout. Bounds resolve from
    the sidecar."""
    meta = L.open(spark, L.SQ8, path, "sq8_topk_at_rest")
    bounds = {"mins": meta["mins"], "maxs": meta["maxs"]}
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    scan = spark.read.parquet(path)
    if shortlist is None:
        return sq8_topk(
            scan.select(id_col, "sq_code"), query_vec, bounds, k=k,
            id_col=id_col,
        )
    if not meta.get("has_vectors"):
        raise ValueError(
            "sq8_topk_at_rest: shortlist rerank needs a layout written "
            "with keep_vectors=True — this one stores codes only."
        )
    return sq8_topk_rerank(
        scan.select(id_col, "sq_code"),
        scan.select(id_col, vec_col),
        query_vec,
        bounds,
        k=k,
        shortlist=shortlist,
        id_col=id_col,
        vec_col=vec_col,
    )


# --------------------------------------------------------------------------
# OPQ: optimized product quantization (learned rotation before encoding)
# --------------------------------------------------------------------------


def opq_seed_rotation(d: int) -> list[list[float]]:
    """A fixed, data-independent orthogonal matrix: two layers of Givens
    rotations — adjacent pairs (2t, 2t+1) at angle 0.1(t+1), then
    stride-``d//8`` pairs that cross PQ subspace boundaries at angle
    0.07(t+1). Deterministic (pure function of ``d``), dense enough to
    mix energy across subspaces, and cheap to embed as plan/SQL
    literals — the registry entry's rotation seed, playing the role
    ``train_pq(iters=0)`` seeding plays for codebooks (the algorithm
    under test is rotate -> encode -> ADC -> rerank; the trained
    rotation only changes the VALUES — :func:`train_opq`)."""
    import math

    R = [[1.0 if i == j else 0.0 for j in range(d)] for i in range(d)]

    def givens(a: int, b: int, theta: float) -> None:
        c, s = math.cos(theta), math.sin(theta)
        for row in R:
            xa, xb = row[a], row[b]
            row[a] = c * xa - s * xb
            row[b] = s * xa + c * xb

    for t in range(d // 2):
        givens(2 * t, 2 * t + 1, 0.1 * (t + 1))
    stride = max(1, d // 8)
    block = 2 * stride
    for t in range(d // block):
        for j in range(stride):
            a = t * block + j
            givens(a, a + stride, 0.07 * (t + j + 1))
    return R


def _rotate_vec_py(v: list[float], R: list[list[float]]) -> list[float]:
    """Driver-side ``y_j = sum_i v_i R[i][j]`` with the SAME i-ascending
    fold order as :func:`_rotate_expr` — bit-identical doubles, so a
    driver-rotated query scores against executor-rotated codes
    exactly."""
    d = len(R)
    return [
        float(sum((v[i] * R[i][j] for i in range(d)), 0.0)) for j in range(d)
    ]


def _rotate_expr(vec_col, R: list[list[float]]) -> "F.Column":
    """``y = x R`` (y_j = sum_i x_i R[i][j]) as a Column: one ordered
    zip_with/aggregate fold per output dimension against the literal
    matrix column — the exact fold order the DuckDB oracle's list_sum
    and the driver-side :func:`_rotate_vec_py` mirror.

    Why a HOF fold despite the SCALE.md §27 interpreted-HOF tax: the
    explicit d^2-term multiply-add chain blows janino's 64 KB
    generated-method limit at d=64, falls back to INTERPRETED
    evaluation anyway, and measured 2.5x SLOWER than the fold (r13).
    The scale story doesn't ride on this expression either way: the
    corpus rotates ONCE at layout-write time (``write_ivf_pq(opq=True)``)
    and probes rotate only the QUERY, driver-side — serving never pays
    d^2 per corpus row.

    r13: rendered as SQL text (one F.expr parse) — the nested
    F.lit/F.array build cost d^2 py4j round-trips; the parsed
    aggregate/zip_with tree (and therefore the fold order and every
    double) is identical."""
    if not isinstance(vec_col, str):
        raise TypeError("_rotate_expr: vec_col must be a column NAME")
    d = len(R)
    outs = []
    for j in range(d):
        col_j = _sx.dbl_array([R[i][j] for i in range(d)])
        outs.append(
            f"aggregate(zip_with(`{vec_col}`, {col_j}, "
            "(x, r) -> CAST(x AS DOUBLE) * r), "
            "0.0D, (acc, t) -> acc + t)"
        )
    return F.expr("array(" + ", ".join(outs) + ")")


def rotate_vectors(
    df: DataFrame,
    R: list[list[float]],
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Apply an orthogonal rotation to a vector column (plan-literal
    matrix, map-only). ``out_col`` defaults to replacing ``vec_col``."""
    return df.withColumn(out_col or vec_col, _rotate_expr(vec_col, R))


def _rotate_rows(mat, R):
    """Driver-side twin of :func:`_rotate_expr` for numpy matrices."""
    import numpy as np

    return np.asarray(mat, dtype=np.float64) @ np.asarray(R, dtype=np.float64)


def _reconstruct(mat, codebooks: list[list[list[float]]]):
    """Encode + decode a sample under per-subspace codebooks (first-match
    argmin, matching :func:`_fit_codebooks` / :func:`pq_encode`)."""
    import numpy as np

    m = len(codebooks)
    sub = len(codebooks[0][0])
    out = np.empty_like(mat)
    for s in range(m):
        block = mat[:, s * sub : (s + 1) * sub]
        cents = np.asarray(codebooks[s], dtype=np.float64)
        d2 = ((block[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        out[:, s * sub : (s + 1) * sub] = cents[d2.argmin(axis=1)]
    return out


def _opq_fit(mat, m: int, k: int, iters: int, opq_iters: int):
    """OPQ-NP (Ge et al., "Optimized Product Quantization", CVPR 2013 /
    TPAMI 2014): alternate (a) fit codebooks in the rotated space,
    (b) update the rotation by orthogonal Procrustes against the
    quantized reconstruction — R = U V^T from SVD(X^T Y), the closed-
    form argmin over orthogonal R of ||X R − Y||_F. The d x d SVD runs
    driver-side on the bounded sample's Gram-sized matrix (d^2 floats —
    microscopic; nothing data-scaled touches the driver)."""
    import numpy as np

    d = mat.shape[1]
    R = np.eye(d)
    for _ in range(opq_iters):
        Xr = mat @ R
        books = _fit_codebooks(Xr, m, k, iters)
        Y = _reconstruct(Xr, books)
        U, _, Vt = np.linalg.svd(mat.T @ Y)
        R = U @ Vt
    books = _fit_codebooks(mat @ R, m, k, iters)
    return [[float(x) for x in row] for row in R], books


def train_opq(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    sample_rows: int = 2048,
    iters: int = 5,
    opq_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Fit (rotation, codebooks) on the bounded deterministic sample —
    OPQ over raw vectors. Returns ``(R, codebooks)`` where codes encode
    ``x R``. Same sample/determinism contract as :func:`train_pq`
    (lowest-id rows, no RNG; the SVD is deterministic LAPACK)."""
    return _opq_fit(
        _training_sample(df, None, sample_rows, id_col, vec_col),
        m, k, iters, opq_iters,
    )


def train_opq_residual(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    m: int = 8,
    k: int = 16,
    sample_rows: int = 2048,
    iters: int = 5,
    opq_iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """OPQ over coarse-quantization residuals — the rotation + codebooks
    an OPQ IVF-PQ layout encodes (rotate the residual, then PQ): the
    residual move shrinks the variance, the rotation BALANCES what is
    left across subspaces (Ge et al. §5's IVFADC+OPQ)."""
    return _opq_fit(
        _training_sample(df, centroids, sample_rows, id_col, vec_col),
        m, k, iters, opq_iters,
    )


def rotate_vectors_blas(
    df: DataFrame,
    R: list[list[float]],
    vec_col: str = "embedding",
    out_col: str | None = None,
    id_col: str = "vec_id",
) -> DataFrame:
    """Production twin of :func:`rotate_vectors`: Arrow-batched
    mapInPandas matmul (float64 BLAS dgemm — O(batch * d^2) flops with
    no per-element expression interpretation; the ``pca_project``
    convention). Use for bulk corpus rotation at encode time; the
    expression path stays the ORACLE form because BLAS may reassociate
    the per-output sums (last-ulp differences — np.allclose-equal,
    pinned by test, but not bit-equal, so driver-verified entries keep
    the fold). Keeps (id_col, out_col) only — the bulk-encode
    projection."""
    import numpy as np
    import pandas as pd

    Rm = np.asarray(R, dtype=np.float64)
    out = out_col or vec_col

    def rot(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            rotated = mat @ Rm
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    out: list(rotated),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        rot, schema=f"{id_col} {id_type}, {out} array<double>"
    )
