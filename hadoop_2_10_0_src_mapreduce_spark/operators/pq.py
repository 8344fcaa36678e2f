"""Product quantization (PQ) for embedding columns — the memory tier
below int8.

Extension beyond the reference (no vector ops existed in Hadoop MR;
per SURVEY §0 no reference file:line exists to cite). Published
technique: Jégou, Douze, Schmid, "Product Quantization for Nearest
Neighbor Search" (TPAMI 2011) — split each d-dim vector into ``m``
contiguous subvectors, k-means each subspace into ``k`` codes, store
each vector as ``m`` small code ids. At 100 TB this is the difference
between an embedding store that fits in cluster memory and one that
doesn't:

  float32, d=64:   256 B/vector
  int8  (quantize_embeddings):   64 B + scale  (4×)
  PQ, m=8, k≤256:   8 B of codes (32×) + one shared [m,k,d/m] codebook

Query-side scoring is ADC (asymmetric distance computation): the
query stays FULL precision; one lookup table LUT[m, k] =
dot(query_sub_m, codebook[m, k]) per query turns every corpus
approximate dot into ``m`` table lookups + adds — no per-dimension
work at scan time. Candidates from ADC are then (optionally) rescored
exactly against the float vectors, the same candidates-then-rescore
recipe as the int8 path.

Spark shapes, same posture as operators/similarity.py:

- training is driver-side on the SAME bounded md5-stride sample as
  ``train_ivf_centroids`` (≤ max_train vectors, a few MB) — the corpus
  is never collected;
- encode/decode/score run in Arrow-batched ``mapInPandas`` where the
  codes live — the corpus never shuffles; only ≤ partitions·k
  candidate rows per query move into the global re-rank;
- the codebook ([m, k, d/m] float64 — for m=8, k=256, d=64:
  ~1 MB) is a broadcast variable, the same kilobyte-scale broadcast
  class as IVF centroids;
- exact rescore joins candidate ids back to the distributed float
  table (``_score_pairs``) — vectors join where they live.

PQ is pytest-verified (determinism, nearest-code invariant,
reconstruction dominance over int8, recall pins vs brute force) AND —
since round 7 — oracle-replayable: every float reduction in the
trainer, encoder, and ADC scorer is sequential (``_seq_matdot`` /
``_seq_sq_norms`` / s-ordered lookup sums), so DuckDB reproduces the
codebooks, the code assignments, and the ADC ranking bit-for-bit (the
'ivfpq' branch of the ``sim_ann_ivf`` driver gate replays the whole
path, approximation and all — the same md5-seeding philosophy as the
IVF/LSH oracles).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_2_10_0_src_mapreduce_spark.operators import ann_store
from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
    _IVF,
    _global_topk,
    _md5_key,
    _resolve_centroids,
    _resolve_probes,
    _score_pairs_arrow,
    _seq_matdot,
    _seq_sq_norms,
    train_ivf_centroids,
)


def _pq_geometry(dim: int, n_subspaces: int) -> int:
    if dim % n_subspaces != 0:
        raise ValueError(
            f"PQ needs dim divisible by n_subspaces: dim={dim}, "
            f"n_subspaces={n_subspaces} (pad or pick a divisor)"
        )
    return dim // n_subspaces


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    """Unit-normalize (cosine convention, matching the ANN family);
    zero vectors stay zero rather than NaN-poisoning the codebooks."""
    norms = np.sqrt(_seq_sq_norms(mat))
    norms[norms == 0.0] = 1.0
    return mat / norms[:, None]


def _l2_rank_dist(sub: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """The rank-equivalent squared-L2 block used EVERYWHERE a vector
    meets a codebook: ||x − c||² = ||x||² − 2x·c + ||c||², and ||x||²
    is rank-constant per row, so argmin ranks by −2·(x·c) + ||c||².
    Both reductions are SEQUENTIAL (``_seq_matdot``/``_seq_sq_norms``),
    so every cell is bit-identical to DuckDB's
    ``-2.0*list_inner_product(x, c) + list_inner_product(c, c)`` — the
    property the r7 driver-gate oracle replays (same discipline as the
    IVF trainer; −2.0·a is exact, the one cross-term add rounds the
    same way in both engines)."""
    return -2.0 * _seq_matdot(sub, codes) + _seq_sq_norms(codes)[None, :]


def _kmeans_l2(
    init: list[int], sub: np.ndarray, n_codes: int, n_iters: int
) -> np.ndarray:
    """Deterministic L2 k-means for ONE subspace: init = the first
    ``n_codes`` sample subvectors in the caller's (md5(id), id) order
    — the same seeding trick as ``_kmeans_spherical``, hashed ONCE per
    training run rather than per subspace — assignment by min
    rank-distance with ties toward the lowest code index (stable
    argmin), empty codes keep their previous centroid. Every float
    reduction is sequential (rank block via ``_l2_rank_dist``; means
    accumulate member rows in the caller's id-ascending row order,
    then one correctly-rounded divide), so DuckDB replays the whole
    trainer exactly: member-ordered mean ==
    ``list_inner_product(list(x ORDER BY id), ones) / count`` — the
    same trick as the IVF oracle's CTE chain."""
    k = min(n_codes, len(sub))
    codes = sub[init[:k]].copy()
    for _ in range(n_iters):
        assign = _l2_rank_dist(sub, codes).argmin(axis=1)  # FIRST min
        for c in range(k):
            members = sub[assign == c]
            if len(members):
                acc = np.zeros(sub.shape[1])
                for i in range(len(members)):
                    acc += members[i]
                codes[c] = acc / len(members)
    return codes


def train_pq_codebooks(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    n_codes: int = 256,
    n_iters: int = 5,
    max_train: int = 4096,
    centers: np.ndarray | None = None,
    n: int | None = None,
) -> np.ndarray:
    """Train the [n_subspaces, n_codes, dim/n_subspaces] PQ codebook
    on the same BOUNDED deterministic sample as ``train_ivf_centroids``
    (md5-stride keeps ~max_train vectors however large the corpus; the
    driver holds a few MB). Vectors are unit-normalized first — the
    cosine convention of the whole ANN family — so ADC dot sums
    approximate cosine directly. Training is deterministic (md5-seeded
    init per subspace, first-min ties), so two trains over the same
    corpus produce identical codebooks.

    When the sample has fewer than ``n_codes`` vectors the codebook
    holds one code per sample vector (reconstruction is then exact on
    the sample); the returned array's second axis reflects the actual
    code count.

    ``centers`` switches to RESIDUAL training (classic IVF-PQ): each
    sample vector is assigned to its nearest center with the same
    stable ranking as ``ivf_assign`` and the codebooks train on
    ``x_norm − center(home)`` — quantization then spends its bits on
    the within-cell detail the coarse centroids already explain away,
    instead of re-describing cluster positions."""
    sample = emb.select(id_col, vec_col)
    if n is None:  # pre-counted corpus size skips the count() job
        n = sample.count()
    if n > max_train:
        stride = -(-n // max_train)  # ceil
        from hadoop_2_10_0_src_mapreduce_spark.functions.hashing import md5_u32

        sample = sample.where(
            md5_u32(F.col(id_col).cast("string")) % F.lit(stride) == 0
        )
    pdf = sample.orderBy(id_col).toPandas()
    if not len(pdf):
        raise ValueError("train_pq_codebooks: empty training corpus")
    ids = pdf[id_col].to_numpy()
    mat = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
    dsub = _pq_geometry(mat.shape[1], n_subspaces)
    mat = _normalize_rows(mat)
    if centers is not None:
        from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
            _seq_matdot,
        )

        assign = np.argsort(
            -_seq_matdot(mat, centers), axis=1, kind="stable"
        )[:, 0]
        mat = mat - centers[assign]
    init = sorted(range(len(ids)), key=lambda i: _md5_key(ids[i]))
    books = [
        _kmeans_l2(init, mat[:, s * dsub : (s + 1) * dsub], n_codes, n_iters)
        for s in range(n_subspaces)
    ]
    return np.stack(books)


def _codes_matrix(col: pd.Series) -> np.ndarray:
    """Decode a codes column into an [n, m] int array, accepting both
    layouts: array<smallint> rows and PACKED binary rows (one byte per
    code — the persisted-store layout when n_codes ≤ 256)."""
    first = col.iloc[0]
    if isinstance(first, (bytes, bytearray)):
        return np.stack(
            [np.frombuffer(b, dtype=np.uint8) for b in col]
        ).astype(np.int64)
    return np.stack(col.map(np.asarray)).astype(np.int64)


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_col: str = "pq_codes",
    keep_cols: tuple[str, ...] = (),
    packed: bool = False,
    centers: np.ndarray | None = None,
    center_col: str = "list_id",
) -> DataFrame:
    """Encode each vector as its per-subspace nearest-code ids:
    (id, codes, *keep_cols). Runs where the vectors live (Arrow-batched
    mapInPandas, broadcast codebook) — the corpus never shuffles, and
    the emitted payload is m code ids per row instead of d floats.

    ``packed=False`` (default) emits array<smallint> — n_codes up to
    32k, and the layout parquet stores BEST: each subspace column has
    ≤ n_codes distinct values, so dictionary+RLE bit-packs it below
    even the raw m bytes (measured on the 20k-vector sf1 fixture,
    single file: float 5.25 MB, array<smallint> 249 kB = 21×, packed
    binary 297 kB — mostly-unique blobs can't dictionary-encode, so
    packing LOSES on disk and stays only for callers that want the
    narrower Arrow/in-memory transfer; requires n_codes ≤ 256). Every
    scoring/decoding kernel accepts both layouts transparently
    (``_codes_matrix``).

    ``centers`` encodes RESIDUALS: after normalizing, each row's
    center (indexed by its ``center_col`` value — the home list id)
    is subtracted before code lookup. The codebooks must have been
    trained with the same ``centers`` (``train_pq_codebooks``)."""
    m, k_codes, dsub = codebooks.shape
    if packed and k_codes > 256:
        raise ValueError(
            f"packed codes need n_codes <= 256 (one byte per code); "
            f"codebook has {k_codes}"
        )
    bc = emb.sparkSession.sparkContext.broadcast((codebooks, centers))

    def batches(it):
        books, cents = bc.value
        for pdf in it:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
            if mat.shape[1] != m * dsub:
                # fail fast like _pq_geometry does at train time:
                # slicing would silently TRUNCATE longer vectors to
                # wrong codes (shorter ones already raise on stack)
                raise ValueError(
                    f"pq_encode: vector dim {mat.shape[1]} != codebook "
                    f"geometry n_subspaces*dsub = {m}*{dsub} = {m * dsub}"
                )
            mat = _normalize_rows(mat)
            if cents is not None:
                mat = mat - cents[pdf[center_col].to_numpy()]
            codes = np.empty((len(pdf), m), dtype=np.int16)
            for s in range(m):
                sub = mat[:, s * dsub : (s + 1) * dsub]
                codes[:, s] = (
                    _l2_rank_dist(sub, books[s]).argmin(axis=1).astype(np.int16)
                )
            out = pdf[[id_col, *keep_cols]].copy()
            if packed:
                out[codes_col] = [
                    row.astype(np.uint8).tobytes() for row in codes
                ]
            else:
                out[codes_col] = list(codes)
            yield out

    keep_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in emb.schema.fields
        if f.name in keep_cols
    )
    id_type = {f.name: f.dataType.simpleString() for f in emb.schema.fields}[id_col]
    codes_type = "binary" if packed else "array<smallint>"
    in_cols = [id_col, vec_col, *keep_cols]
    if centers is not None and center_col not in in_cols:
        in_cols.append(center_col)
    return emb.select(*in_cols).mapInPandas(
        batches, f"{id_col} {id_type}{keep_schema}, {codes_col} {codes_type}"
    )


def pq_decode(
    codes_df: DataFrame,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    out_col: str = "embedding",
    centers: np.ndarray | None = None,
    center_col: str = "list_id",
) -> DataFrame:
    """Reconstruct the (unit-normalized) vector each code row stands
    for: concat of the m looked-up codewords. The PQ analogue of
    ``dequantize_embeddings`` — used for audits and tests; production
    scoring goes through ``pq_topk``'s LUT instead of materializing
    reconstructions.

    RESIDUAL-encoded rows (``save_ivfpq_index(residual=True)``) must
    pass the index's ``centers`` so the home-list centroid is added
    back — decoding residual codes without it returns near-zero
    residuals, not vectors (check
    ``ann_store.read_meta(spark, path)["conf"]["residual"]`` when
    auditing a stored index)."""
    m, _, dsub = codebooks.shape
    bc = codes_df.sparkSession.sparkContext.broadcast((codebooks, centers))

    def batches(it):
        books, cents = bc.value
        flat = books.reshape(m, -1, dsub)
        for pdf in it:
            if not len(pdf):
                continue
            codes = _codes_matrix(pdf[codes_col])
            rec = np.concatenate(
                [flat[s][codes[:, s]] for s in range(m)], axis=1
            )
            if cents is not None:
                rec = rec + cents[pdf[center_col].to_numpy()]
            out = pdf[[id_col]].copy()
            out[out_col] = list(rec)
            yield out

    id_type = {f.name: f.dataType.simpleString() for f in codes_df.schema.fields}[
        id_col
    ]
    in_cols = [id_col, codes_col] + ([center_col] if centers is not None else [])
    return codes_df.select(*in_cols).mapInPandas(
        batches, f"{id_col} {id_type}, {out_col} array<double>"
    )


def _collect_query_batch(
    queries: DataFrame, id_col: str, vec_col: str, max_queries: int, who: str
) -> tuple[np.ndarray, np.ndarray]:
    """Collect and normalize the SMALL serving-side query batch
    (guarded by ``max_queries`` — the same bounded-driver contract as
    ``brute_force_topk``'s broadcast side)."""
    n_q = queries.count()
    if n_q == 0:
        raise ValueError(f"{who}: empty query batch")
    if n_q > max_queries:
        raise ValueError(
            f"{who}: {n_q} queries > max_queries={max_queries}; ADC "
            "broadcasts one LUT row per query AND scores a "
            "[queries, row-slice] block per task (the slice is capped "
            "at 4096 rows) — batch the queries, or raise max_queries "
            "if q·m·k_codes LUT doubles plus q·4096 block doubles fit"
        )
    qpdf = queries.select(id_col, vec_col).toPandas()
    qids = qpdf[id_col].to_numpy()
    qmat = _normalize_rows(
        np.stack(qpdf[vec_col].map(lambda v: np.asarray(v, dtype=np.float64)))
    )
    return qids, qmat


def _adc_lut(qmat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """LUT[q, s, c] = dot(query_sub_s, codebook[s, c]) — after this,
    every corpus approximate dot is m lookups + adds."""
    m, k_codes, dsub = codebooks.shape
    if qmat.shape[1] != m * dsub:
        # same fail-fast as pq_encode: a longer query would silently
        # score on a truncated prefix
        raise ValueError(
            f"ADC query dim {qmat.shape[1]} != codebook geometry "
            f"n_subspaces*dsub = {m}*{dsub} = {m * dsub}"
        )
    lut = np.empty((len(qmat), m, k_codes))
    for s in range(m):
        # sequential dots: LUT cells bit-match list_inner_product, so
        # the s-ordered lookup sum in _adc_per_partition replays too
        lut[:, s, :] = _seq_matdot(
            qmat[:, s * dsub : (s + 1) * dsub], codebooks[s]
        )
    return lut


# per-task sims-block row bound for the ADC scan (see docstring)
_ADC_ROW_SLICE = 4096


def _adc_per_partition(
    codes_df: DataFrame,
    qids: np.ndarray,
    lut: np.ndarray,
    *,
    id_col: str,
    codes_col: str,
    n_cand: int,
    round_digits: int,
    probe_ok: np.ndarray | None = None,
    list_col: str = "list_id",
    list_offsets: np.ndarray | None = None,
) -> DataFrame:
    """The ADC scan: each corpus partition scores its own rows against
    the broadcast LUT (m lookups + adds per (row, query)) and emits
    only its per-query top-``n_cand`` — the corpus never shuffles and
    never leaves its executors. ``probe_ok`` ([q, n_lists] bool) masks
    rows outside a query's probed lists (the IVF-PQ mode); rows tie-
    break and round exactly like ``_pairs_topk`` so rankings are
    deterministic. ``list_offsets`` ([q, n_lists]) adds the
    query·centroid term per row — the residual-encoding mode, where
    the approximate dot is dot(q, c_home) + Σ LUT_res[codes].

    Memory shape: the sims block is [q, rows] float64, so Arrow
    batches are processed in ≤``_ADC_ROW_SLICE``-row slices — the
    per-task peak is q·slice doubles regardless of batch size, and
    per-slice top-n_cand rows lose nothing (any global top-k neighbor
    is top-n_cand within its slice, the per-partition argument one
    level down)."""
    m = lut.shape[1]
    bc = codes_df.sparkSession.sparkContext.broadcast(
        (qids, lut, probe_ok, list_offsets)
    )
    scale = 10.0**round_digits
    need_list = probe_ok is not None or list_offsets is not None
    cols = [id_col, codes_col] + ([list_col] if need_list else [])

    def batches(it):
        b_qids, b_lut, b_ok, b_off = bc.value
        for pdf in it:
            for lo in range(0, len(pdf), _ADC_ROW_SLICE):
                sl = pdf.iloc[lo : lo + _ADC_ROW_SLICE]
                if not len(sl):
                    continue
                cids = sl[id_col].to_numpy()
                codes = _codes_matrix(sl[codes_col])
                # sims[q, row] = Σ_s LUT[q, s, codes[row, s]]
                sims = np.zeros((len(b_qids), len(cids)))
                for s in range(m):
                    sims += b_lut[:, s, :][:, codes[:, s]]
                lists = sl[list_col].to_numpy() if (
                    b_ok is not None or b_off is not None
                ) else None
                if b_off is not None:  # residual mode: + dot(q, c_home)
                    sims += b_off[:, lists]
                sims[:, :] = np.copysign(
                    np.floor(np.abs(sims) * scale + 0.5), sims
                ) / scale
                if b_ok is not None:
                    sims[~b_ok[:, lists]] = -np.inf
                sims[b_qids[:, None] == cids[None, :]] = -np.inf
                kk = min(n_cand, sims.shape[1])
                out_q, out_n, out_s = [], [], []
                for i in range(len(b_qids)):
                    top = np.lexsort((cids, -sims[i]))[:kk]
                    top = top[sims[i, top] != -np.inf]
                    out_q.extend([b_qids[i]] * len(top))
                    out_n.extend(cids[top])
                    out_s.extend(sims[i, top])
                yield pd.DataFrame(
                    {
                        "query_id": np.asarray(out_q, dtype=b_qids.dtype),
                        "neighbor_id": np.asarray(out_n, dtype=cids.dtype),
                        "sim": np.asarray(out_s, dtype=np.float64),
                    }
                )

    id_type = {f.name: f.dataType.simpleString() for f in codes_df.schema.fields}[
        id_col
    ]
    return codes_df.select(*cols).mapInPandas(
        batches, f"query_id {id_type}, neighbor_id {id_type}, sim double"
    )


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    *,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int = 6,
    rescore: DataFrame | None = None,
    oversample: int = 4,
    max_queries: int = 4096,
) -> DataFrame:
    """ADC top-k over a PQ-encoded corpus: (query_id, rnk,
    neighbor_id, sim), the ANN-family output shape.

    The query batch is the SMALL serving side (same contract as
    ``brute_force_topk``'s broadcast): it is collected to the driver
    (guarded by ``max_queries``), normalized, and shipped as one
    [q, m, k_codes] lookup table — LUT[q, s, c] = dot(q_sub_s,
    codebook[s, c]) — inside a broadcast. Each corpus partition then
    scores its own rows with m lookups + adds per (row, query) and
    emits only its per-query top-(k·oversample); the global window
    re-ranks ≤ partitions·k·oversample rows per query. The corpus
    never shuffles and never leaves its executors.

    ``rescore`` (the float vector table, e.g. the original embeddings)
    turns the ADC ranking into candidates-then-exact: the top
    k·oversample ADC candidates per query join back to their float
    vectors (``_score_pairs_arrow`` — exact sequential cosine where
    the vectors live; the QUERY side re-reads from the query batch, so
    external query ids that never lived in the corpus rescore too) and
    the final top-k ranks by TRUE cosine. sim is then exact for every
    returned row; ADC error can only cost recall, never precision."""
    qids, qmat = _collect_query_batch(
        queries, id_col, vec_col, max_queries, "pq_topk"
    )
    lut = _adc_lut(qmat, codebooks)
    n_cand = k * (oversample if rescore is not None else 1)
    per_part = _adc_per_partition(
        codes_df, qids, lut,
        id_col=id_col, codes_col=codes_col,
        n_cand=n_cand, round_digits=round_digits,
    )
    if rescore is None:
        return _global_topk(per_part, k)
    cands = _global_topk(per_part, n_cand).select("query_id", "neighbor_id")
    exact = _score_pairs_arrow(
        queries.select(id_col, vec_col), cands, id_col, vec_col,
        round_digits, emb_right=rescore.select(id_col, vec_col),
    )
    return _global_topk(exact, k)


# --- persisted IVF-PQ index: the IVF-PQ family of ann_store -------------
# The 100 TB serving composition: IVF routing prunes the SCAN to the
# probed list directories (the IVF row store) and PQ shrinks what those
# directories HOLD to m smallints per vector — together a query batch
# reads p/c of a 32×-smaller store. The layout is
#   <path>/conf        (n_subspaces, n_codes, n_codes_trained, residual)
#   <path>/centroids   (list_id, centroid array<double>)   — kilobytes
#   <path>/codebooks   (subspace, code, codeword array<double>) — ~MB
#   <path>/lists       (id, pq_codes) PARTITIONED BY list_id
# Full-precision vectors are NOT stored: rescore-grade serving passes
# the source-of-truth embedding table via ``rescore=``, and rebuilds
# re-run the build over that table (codes are not invertible enough to
# retrain from).


class _IVFPQ(_IVF):
    """IVF-PQ: the IVF row store holding PQ codes (plain or residual)
    instead of vectors. Rebuilds swap the whole root, so a reader never
    pairs new codebooks with old codes."""

    name = "ivfpq"
    meta = ("conf", "centroids", "codebooks")
    conf_schema = (
        "n_subspaces int, n_codes int, n_codes_trained int, residual boolean"
    )
    conf_defaults = {"residual": False}
    root_swap = needs_source = True
    rebuild_hint = (
        "cell count; rebuild_ivfpq_index(source_df) — codes cannot "
        "retrain, so the source embeddings are required"
    )

    def train(self, corpus, *, id_col, vec_col, train_df=None, dirs="auto",
              n_centroids=16, n_subspaces=8, n_codes=256, n_iters=5,
              max_train=4096, residual=False):
        train = train_df.select(id_col, vec_col) if train_df is not None else corpus
        # "auto" sizes to the FILED corpus (same rule as save_ivf_index),
        # capped at this build's trainer sample bound
        n_centroids = _resolve_centroids(corpus, n_centroids, cap=max_train)
        cents = train_ivf_centroids(
            train, id_col=id_col, vec_col=vec_col,
            n_centroids=n_centroids, max_train=max_train,
        )
        books = train_pq_codebooks(
            train, id_col=id_col, vec_col=vec_col,
            n_subspaces=n_subspaces, n_codes=n_codes,
            n_iters=n_iters, max_train=max_train,
            centers=cents if residual else None,
        )
        # conf records the REQUESTED n_codes, not the trained count: a
        # corpus smaller than n_codes trains a sample-limited codebook
        # (books.shape[1] < n_codes), and recording that actual count
        # would permanently pin every later rebuild to the degraded
        # geometry even after the corpus grows far past it. The trained
        # count is kept alongside for audits; readers that need the
        # real codebook shape read the codebooks table itself.
        conf = {
            "n_subspaces": int(books.shape[0]),
            "n_codes": int(n_codes),
            "n_codes_trained": int(books.shape[1]),
            "residual": bool(residual),
        }
        meta = {"conf": conf, "centroids": cents, "codebooks": books}
        return meta, ann_store._resolve_list_dirs(dirs, n_centroids)

    def carry(self, meta, geometry):
        conf = meta["conf"]
        return {
            **geometry,
            "n_centroids": (
                "auto" if geometry["n_centroids"] is None
                else geometry["n_centroids"]
            ),
            "n_subspaces": conf.get("n_subspaces", 8),
            "n_codes": conf.get("n_codes", 256),
            "residual": conf["residual"],
        }

    def encode(self, filed, meta, *, id_col, vec_col, packed=False):
        # unpacked by default: parquet dictionary+RLE beats raw bytes on
        # disk (see pq_encode's measured note); appends follow the store
        return pq_encode(
            filed, meta["codebooks"], id_col=id_col, vec_col=vec_col,
            keep_cols=("list_id",), packed=packed,
            centers=meta["centroids"] if meta["conf"]["residual"] else None,
        )


IVFPQ = _IVFPQ()


def save_ivfpq_index(
    emb: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | str = 16,
    n_subspaces: int = 8,
    n_codes: int = 256,
    n_iters: int = 5,
    max_train: int = 4096,
    train_df: DataFrame | None = None,
    residual: bool = False,
    list_dirs: bool | str = "auto",
) -> None:
    """Build and persist an IVF-PQ index: train centroids + codebooks
    on the same bounded md5-stride sample (``train_df`` pins training
    to a different frame, the rebuild/append-equivalence shape, exactly
    like ``save_ivf_index``), file each vector into its home list, and
    store only its PQ codes under the list partition. Writes cluster on
    the partition column (one file set per directory).

    ``residual=True`` is classic IVF-PQ: codebooks train on and encode
    ``x_norm − centroid(home list)``, so the quantizer's bits describe
    within-cell detail instead of re-describing cluster positions —
    measurably tighter reconstructions on clustered corpora (pinned by
    test on planted clusters). The flag is recorded in ``<path>/conf``
    and the query/append paths follow it; serving adds the
    query·centroid term back per probed list.

    ``list_dirs`` is the same layout dial as ``save_ivf_index``:
    directory-per-list (True) vs flat list_id-sorted files with
    row-group skip (False — measured 2.3× serve at 200k vectors /
    1516 auto lists). Default "auto" resolves from the list count at
    save time (dirs below 256 lists, flat at or above); maintenance
    follows the stored layout."""
    ann_store.build(
        IVFPQ, emb, path, id_col=id_col, vec_col=vec_col, train_df=train_df,
        dirs=list_dirs, n_centroids=n_centroids, n_subspaces=n_subspaces,
        n_codes=n_codes, n_iters=n_iters, max_train=max_train,
        residual=residual,
    )


def query_ivfpq_index(
    queries: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int | str = "auto",
    round_digits: int = 6,
    rescore: DataFrame | None = None,
    oversample: int = 4,
    max_queries: int = 4096,
) -> DataFrame:
    """Serve a query batch from a ``save_ivfpq_index`` directory.
    ``n_probe`` defaults to "auto" (``adaptive_probes`` over the
    stored list count — ceil(lists/16), floor 4), so an index whose
    adaptive geometry grew the list count serves at matching recall
    instead of silently probing a vanishing fraction.

    Routing happens DRIVER-side on the kilobyte centroid table (the
    query batch is already bounded-collected for its ADC LUT), the
    probed list-id set becomes a literal IN filter on the partition
    column — unprobed directories are never read (PartitionFilters,
    same unconditional skip as ``query_ivf_index``) — and each probed
    partition ADC-scores its own rows against the broadcast LUT with a
    per-query probe mask, emitting only per-partition top-k. Probing
    with the SAME stable ranking as ``ivf_assign`` (sequential dots,
    ties toward the lower list id) keeps routing consistent with how
    the corpus was filed. Tombstoned ids drop out before scoring.

    ``rescore`` = the source-of-truth float vector table for the
    NEIGHBOR side: ADC picks k·oversample candidates, the exact
    sequential cosine re-ranks with query vectors re-read from the
    query batch itself (external query ids need not appear in the
    corpus) — returned sims are then true cosines (the index itself
    stores no full-precision vectors to rescore against)."""
    spark = queries.sparkSession
    pins = ann_store.pin(path, IVFPQ)
    meta = ann_store.read_meta(spark, path, IVFPQ, pins)
    cents, books = meta["centroids"], meta["codebooks"]
    n_probe = _resolve_probes(len(cents), n_probe)
    qids, qmat = _collect_query_batch(
        queries, id_col, vec_col, max_queries, "query_ivfpq_index"
    )
    q_dot_c = _seq_matdot(qmat, cents)
    order = np.argsort(-q_dot_c, axis=1, kind="stable")[
        :, : min(n_probe, len(cents))
    ]
    probe_ok = np.zeros((len(qids), len(cents)), dtype=bool)
    for i in range(len(qids)):
        probe_ok[i, order[i]] = True
    probed = sorted(int(x) for x in np.unique(order))
    stored = ann_store.without_tombstones(
        spark.read.parquet(pins["lists"]).where(F.col("list_id").isin(probed)),
        path,
        id_col,
    )
    lut = _adc_lut(qmat, books)
    n_cand = k * (oversample if rescore is not None else 1)
    per_part = _adc_per_partition(
        stored, qids, lut,
        id_col=id_col, codes_col="pq_codes",
        n_cand=n_cand, round_digits=round_digits,
        probe_ok=probe_ok,
        list_offsets=q_dot_c if meta["conf"]["residual"] else None,
    )
    if rescore is None:
        return _global_topk(per_part, k)
    cands = _global_topk(per_part, n_cand).select("query_id", "neighbor_id")
    exact = _score_pairs_arrow(
        queries.select(id_col, vec_col), cands, id_col, vec_col,
        round_digits, emb_right=rescore.select(id_col, vec_col),
    )
    return _global_topk(exact, k)


def append_to_ivfpq_index(
    new_emb: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold a NEW vector batch into an existing IVF-PQ index without
    retraining: centroids AND codebooks stay fixed (the PQ analogue of
    the fixed-partition-function contract — re-deriving codebooks
    would silently re-mean every stored code), the batch assigns to
    home lists and encodes under the stored codebooks (packed iff the
    stored codes are), and the filed codes append to the list
    partitions. Equals a fresh ``save_ivfpq_index(union,
    train_df=original)`` bit for bit (pinned by test). Same novel-id
    contract as the IVF/LSH appends: tombstone first to update."""
    ann_store.append(IVFPQ, new_emb, path, id_col=id_col, vec_col=vec_col)


def rebuild_ivfpq_index(
    spark,
    path: str,
    source_df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | str | None = None,
    n_iters: int = 5,
    max_train: int = 4096,
) -> None:
    """RETRAIN an IVF-PQ index from its source-of-truth embeddings —
    the rebuild ``index_stats`` recommends when the corpus outgrows
    the build-time geometry. PQ codes cannot retrain from themselves
    (quantization already threw the detail away), so unlike
    ``rebuild_ivf_index`` the source table is REQUIRED; everything
    else mirrors it: tombstoned ids are excluded (the rebuild IS a
    compaction), the stored conf's n_subspaces / n_codes / residual
    carry over so a rebuild can't silently fork the index's quality
    contract, and ``n_centroids`` defaults to "auto" (re-size to the
    live corpus).

    The fresh index builds in a sibling ``.__rebuild__`` dir and swaps
    in with ONE top-level rename of the index root (marked complete by
    a ``__complete__`` file written after the last subdir lands), so a
    concurrent reader can never see NEW codebooks under OLD codes or
    any other mixed-subdir state. The one remaining reader-visible
    state is the whole-index ENOENT blink between the two renames (the
    documented ``atomic_swap_write`` contract). A crash anywhere is
    healed by re-running the rebuild: roll FORWARD when the sibling
    build completed, roll BACK to the ``.__old__`` root otherwise.
    Because the whole root is rebuilt fresh, a lists dir converted with
    ``enable_pointer_swaps`` comes back as a REAL directory — re-run
    ``index pointer`` after an ivfpq rebuild if compact-while-serving
    is needed (the IVF/LSH rebuilds swap subdirs in place and KEEP
    pointer mode)."""
    ann_store.rebuild(
        IVFPQ, spark, path, corpus=source_df, id_col=id_col, vec_col=vec_col,
        n_centroids=n_centroids, n_iters=n_iters, max_train=max_train,
    )


def compact_ivfpq_index(spark, path: str) -> None:
    """Physically apply tombstones and defragment the code store — the
    same atomic-swap row-store rewrite as every family."""
    ann_store.compact(IVFPQ, spark, path)
