"""One store for the persisted ANN index families: IVF (float or int8
lists), IVF-PQ (code lists) and LSH (bucket memberships).

Every family has the same on-disk shape — one ROW STORE of filed
vectors (``lists`` or ``buckets``) next to small METADATA tables
(``conf``, ``centroids``, ``codebooks``) and an optional
``tombstones`` dir — and the same lifecycle: build, serve, append,
delete, compact, rebuild, stats. This module makes every decision the
families share:

- which family a directory holds (``family_of``);
- tombstones: writing them (``delete_from_index``), the anti-join
  every reader applies, and dropping them after compact/rebuild; rows
  and tombstones carry the write sequence that made them, so a
  tombstone hides only rows written before it (delete, then re-append,
  updates a vector);
- the stored payload, encoded the way the stored schema already does
  (float cast to the stored element type, int8 ``qvec``+``scale``,
  packed or unpacked PQ codes), and decoded back for serving/rebuild;
- the row-store layout — directory per partition vs flat files sorted
  by the partition key: the write, the detection from the directory
  shape, and the atomic swap-rewrite;
- the metadata tables: VALUES-relation writes, generation-pinned reads;
- the generic ``append``, ``compact`` and ``rebuild``, plus
  ``index_stats`` and ``maintain_index``.

A family is one ``Family`` adapter (``similarity.IVF``,
``similarity.LSH``, ``pq.IVFPQ``) supplying only what differs: its
row-store name and partition columns, ``train`` (metadata from a
corpus), ``assign`` (filed rows) and ``encode``. Its query scorer
lives next to the adapter and reads through ``pin``/``read_meta``/
``without_tombstones``.

Publishing a rebuild: IVF and LSH swap their subdirectories in place
(rows first, then metadata; each swap is ``atomic_swap_write``, so
pointer mode survives), IVF-PQ builds a sibling root and swaps the
whole root, so codebooks and codes are never mixed (``root_swap``).
All paths are local/NFS table dirs, the same documented scope as
``sources.writers.compact_table``.
"""

from __future__ import annotations

import os
import pathlib
import shutil

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_2_10_0_src_mapreduce_spark.sources.readers import (
    _split_ddl_fields,
    local_values_df,
)
from hadoop_2_10_0_src_mapreduce_spark.sources.writers import (
    atomic_swap_write,
    pin_generation,
    pin_generations,
)

# layout crossover, measured (SURVEY §8): directory-per-list pruning
# beats row-group skipping at small list counts, but past a few
# hundred lists directory listing + per-dir file overhead dominate
# serves (ann_bench at 1516 lists: flat = 2.3× serve, and the same
# lesson at 16×1024 LSH buckets: 13×). 256 sits safely below where
# the dir layout was measured losing and above every fixture geometry.
FLAT_LISTS_THRESHOLD = 256

# stored payload columns: never the id, never the float vector
_PAYLOAD = ("qvec", "scale", "pq_codes")


def _resolve_list_dirs(list_dirs, n_lists: int) -> bool:
    """The IVF ``list_dirs`` dial: "auto" (the save-time default) picks
    directory-per-list below ``FLAT_LISTS_THRESHOLD`` lists and the
    flat layout at or above it; explicit True/False always win.
    Maintenance follows the stored layout (``row_dirs``) instead of
    re-resolving, so it never rewrites a layout the operator chose."""
    if list_dirs == "auto":
        return n_lists < FLAT_LISTS_THRESHOLD
    return list_dirs


class Family:
    """An index family: what it stores where, and the steps that differ
    between families. Besides the attributes below, an adapter defines

    - ``train(corpus, *, id_col, vec_col, train_df=None, dirs, **knobs)``
      → (metadata dict keyed by ``meta`` name, resolved row layout);
    - ``carry(meta, knobs)`` → the rebuild knobs with every None filled
      from the stored metadata;
    - ``assign(vecs, meta, *, id_col, vec_col)`` → filed rows (id,
      vector, *part_cols);

    and may override ``encode`` / ``recap`` / ``advise``. Everything
    else is the store's."""

    name: str
    rows: str  # the row-store subdirectory
    part_cols: tuple[str, ...]  # partition key of a filed row
    meta: tuple[str, ...]  # metadata tables, in write order
    conf_schema = ""  # DDL of the one-row conf table, if any
    conf_defaults: dict = {}  # conf values of indexes that predate them
    copies = False  # an id is stored once per partition it lands in
    root_swap = False  # rebuild publishes by swapping the whole root
    needs_source = False  # rebuild cannot start from the stored payload
    geometry: tuple[str, ...] = ()  # rebuild knobs (the CLI's flags)
    compactor: str  # the public compaction entry point
    target: int  # adaptive-geometry rows per partition
    rebuild_hint: str  # index_stats' occupancy recommendation tail
    skew_note: str  # index_stats' skew recommendation

    def encode(self, filed, meta, *, id_col, vec_col, quantize=False,
               vec_type=None) -> DataFrame:
        """Float payload, cast to the stored element type on append
        (appending array<double> files into an array<float> index would
        fork the parquet physical schema and fail every later read of
        the mixed partition), or int8 qvec + per-vector scale."""
        if quantize:
            from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import (
                quantize_embeddings,
            )

            return quantize_embeddings(
                filed, id_col=id_col, vec_col=vec_col, keep_cols=self.part_cols
            )
        if vec_type is not None:
            return filed.withColumn(vec_col, F.col(vec_col).cast(vec_type))
        return filed

    def recap(self, spark, path, rows, id_col) -> DataFrame:
        """Compaction's post-filter over the live rows."""
        return rows

    def advise(self, spark, path, pins, recall_target, rec) -> dict | None:
        """Extra ``index_stats`` section (appending to ``rec``), or None."""
        return None


def family_of(path: str) -> Family:
    """The family a directory holds: ``centroids`` (+ ``codebooks`` for
    IVF-PQ) or ``conf`` without centroids (LSH). A root missing inside
    an IVF-PQ rebuild's swap window is read from its ``.__old__``
    sibling, which always exists there (``rebuild`` heals it)."""
    from hadoop_2_10_0_src_mapreduce_spark.operators.pq import IVFPQ
    from hadoop_2_10_0_src_mapreduce_spark.operators.similarity import IVF, LSH

    for root in (pathlib.Path(path), pathlib.Path(f"{path}.__old__")):
        if (root / "centroids").exists():
            return IVFPQ if (root / "codebooks").exists() else IVF
        if (root / "conf").exists():
            return LSH
    raise ValueError(f"no IVF or LSH index found at {path}")


# --- metadata tables -----------------------------------------------------


def pin(path: str, fam: Family) -> dict[str, str]:
    """Pin the metadata tables AND the row store as one generation set
    (``sources.writers.pin_generations``): a reader that resolved them
    one by one could land between a rebuild's sequential swaps and
    pair new rows with old metadata — silently wrong neighbors."""
    return pin_generations(path, fam.meta + (fam.rows,))


def read_meta(
    spark: SparkSession, path: str, fam: Family | None = None,
    pins: dict[str, str] | None = None,
) -> dict:
    """The metadata tables, loaded to the driver (kilobytes to ~MB):
    ``conf`` → dict, ``centroids`` → [lists, dim], ``codebooks`` →
    [subspaces, codes, dim/subspaces]. A missing conf falls back to the
    ``conf.__old__`` copy a crash inside a swap leaves, then to the
    family's defaults (indexes written before the conf existed)."""
    fam = fam or family_of(path)
    pins = pins or pin(path, fam)
    out = {}
    for name in fam.meta:
        if name == "conf":
            conf = {}
            for p in (pins["conf"], f"{path}/conf.__old__"):
                if pathlib.Path(p).exists():
                    conf = spark.read.parquet(p).collect()[0].asDict()
                    break
            out[name] = {**fam.conf_defaults, **conf}
        elif name == "centroids":
            rows = spark.read.parquet(pins[name]).orderBy("list_id").collect()
            out[name] = np.array([r.centroid for r in rows], dtype=np.float64)
        else:  # dense [subspace, code] grid, written in that order
            rows = (
                spark.read.parquet(pins[name]).orderBy("subspace", "code").collect()
            )
            m = rows[-1].subspace + 1
            out[name] = np.array(
                [r.codeword for r in rows], dtype=np.float64
            ).reshape(m, len(rows) // m, -1)
    return out


_META_DDL = {
    "centroids": "list_id int, centroid array<double>",
    "codebooks": "subspace int, code int, codeword array<double>",
}


def _write_meta(spark, path: str, fam: Family, meta: dict, *, swap: bool) -> None:
    # local_values_df, not createDataFrame(list): the pickled-RDD form
    # pays ~cores near-empty Python-worker round trips per write (guide
    # §4; the join_asof measurement) — the VALUES relation is pure JVM
    for name in fam.meta:
        v = meta[name]
        if name == "conf":
            rows = [tuple(v[c] for c, _ in _split_ddl_fields(fam.conf_schema))]
        elif name == "centroids":
            rows = [(i, [float(x) for x in c]) for i, c in enumerate(v)]
        else:
            rows = [
                (s, c, [float(x) for x in v[s, c]])
                for s, c in np.ndindex(v.shape[:2])
            ]
        df = local_values_df(spark, rows, _META_DDL.get(name, fam.conf_schema))
        if swap:
            atomic_swap_write(df.coalesce(1), f"{path}/{name}", [])
        else:
            df.coalesce(1).write.mode("overwrite").parquet(f"{path}/{name}")


# --- row store: layout, payload, tombstones --------------------------------


def row_dirs(path: str, fam: Family | None = None) -> bool:
    """The stored row layout, from the directory shape: True when every
    partition column is a directory level (``list_id=``/``table_idx=
    …/bucket=``), False for the flat layout (no directory for the last
    partition column; rows sorted by the key within each file). A
    missing row store (a crash inside a rebuild's swap window) falls
    back to the ``.__old__`` copy's shape, then to the directory
    layout — heal-by-re-run must not die on detection."""
    fam = fam or family_of(path)
    for name in (fam.rows, f"{fam.rows}.__old__"):
        d = pathlib.Path(path) / name
        if d.exists():
            for col in fam.part_cols:
                d = next(
                    (c for c in d.iterdir()
                     if c.is_dir() and c.name.startswith(f"{col}=")),
                    None,
                )
                if d is None:
                    return False
            return True
    return True


def _clustered(rows: DataFrame, fam: Family, dirs: bool):
    """(rows clustered for the layout, directory columns). Directory
    layout: one task per partition, so each directory gets ONE file set
    instead of one per shuffle task (the small-files debt index_stats
    flags). Flat layout: cluster on the leading key and sort by the
    whole key — the file writer needs rows ordered by its directory
    columns and would otherwise insert its OWN sort, leaving the rest
    of the key to sort stability, and the row-group skip of the probed
    partitions silently dies without that order."""
    if dirs:
        return rows.repartition(*fam.part_cols), fam.part_cols
    return (
        rows.repartition(fam.part_cols[0]).sortWithinPartitions(*fam.part_cols),
        fam.part_cols[:-1],
    )


def _write_rows(rows, path: str, fam: Family, dirs: bool, *, mode: str) -> None:
    rows, dir_cols = _clustered(rows, fam, dirs)
    w = rows.write.mode(mode)
    if dir_cols:
        w = w.partitionBy(*dir_cols)
    w.parquet(f"{path}/{fam.rows}")


def _swap_rows(rows, path: str, fam: Family, dirs: bool) -> None:
    """Atomic-swap rewrite of the row store (``atomic_swap_write``:
    leftover-dir healing, pointer mode, and refuse-empty — compacting
    away the LAST vector would brick the index)."""
    rows, dir_cols = _clustered(rows, fam, dirs)
    atomic_swap_write(rows, f"{path}/{fam.rows}", list(dir_cols))


def read_rows(spark: SparkSession, path: str, fam: Family,
              pins: dict[str, str] | None = None) -> tuple[DataFrame, str]:
    """(stored rows, their id column). The id is the first scalar
    column outside the layout and payload, so indexes saved with a
    custom ``id_col`` keep working without the caller naming it."""
    rows = spark.read.parquet(
        pins[fam.rows] if pins else pin_generation(f"{path}/{fam.rows}")
    )
    skip = fam.part_cols + _PAYLOAD
    id_col = next(
        f.name for f in rows.schema.fields
        if f.name not in skip and not f.name.startswith("_")
        and not f.dataType.simpleString().startswith("array")
    )
    return rows, id_col


def decode(rows: DataFrame, id_col: str, vec_col: str, keep=()) -> DataFrame:
    """(id, float vector, *keep) from stored rows: an int8 payload
    dequantizes in the projection (error ≤ scale/2 per component)."""
    if "qvec" not in rows.columns:
        return rows.select(id_col, vec_col, *keep)
    return rows.select(
        F.col(id_col),
        F.transform("qvec", lambda q: q.cast("double") * F.col("scale")).alias(
            vec_col
        ),
        *keep,
    )


def _next_seq(path: str) -> int:
    """Hand out the index's next write sequence. ``<path>/write_seq``
    keeps the last one (a missing file reads as 0); it survives
    compaction, so one writer never draws a number twice. Two
    concurrent writers may draw the same one: a tombstone then also
    hides the same-numbered append, as every tombstone did before
    rows carried a sequence."""
    f = pathlib.Path(path) / "write_seq"
    seq = int(f.read_text()) + 1 if f.exists() else 1
    f.parent.mkdir(parents=True, exist_ok=True)
    tmp = f.with_name(f"write_seq.{os.getpid()}")
    tmp.write_text(str(seq))
    os.replace(tmp, f)
    return seq


def _seq_of(df: DataFrame, col: str):
    # rows and tombstones written before sequences existed read as 0
    if col not in df.columns:
        return F.lit(0).cast("bigint")
    return F.coalesce(F.col(col), F.lit(0).cast("bigint"))


def _tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """(id, seq): each tombstoned id with its newest delete."""
    tomb = pathlib.Path(path) / "tombstones"
    if not tomb.exists():
        return None
    t = spark.read.parquet(pin_generation(str(tomb)))
    return t.groupBy("id").agg(F.max(_seq_of(t, "seq")).alias("seq"))


def without_tombstones(rows: DataFrame, path: str, id_col: str) -> DataFrame:
    """``rows`` minus those a tombstone hides: same id, written no
    later than the delete (``_seq`` ≤ its ``seq``). Every read of live
    vectors (serving, compaction, rebuild) goes through this one
    anti-join."""
    tomb = _tombstones(rows.sparkSession, path)
    if tomb is None:
        return rows
    tomb = tomb.select(F.col("id").alias("_tomb_id"), F.col("seq").alias("_tomb_seq"))
    return rows.join(
        tomb,
        (F.col(id_col) == F.col("_tomb_id"))
        & (_seq_of(rows, "_seq") <= F.col("_tomb_seq")),
        "left_anti",
    )


def delete_from_index(
    spark: SparkSession,
    path: str,
    ids,
    *,
    id_col: str = "vec_id",
) -> None:
    """TOMBSTONE ids out of an index directory of any family: append
    them to ``<path>/tombstones``; every query anti-joins the stored
    rows against it, so deleted vectors stop appearing IMMEDIATELY,
    without locating or rewriting their files (an id lives in 1 IVF
    list but up to n_tables LSH buckets — one mechanism covers both).
    Physical removal happens at compaction or rebuild.

    ``ids`` is a DataFrame carrying ``id_col`` (corpus-scale deletes
    stay distributed) or a plain Python iterable for the small case.
    A tombstone is (id, write sequence): it hides the copies written
    before it, never a later append of the same id — so "delete, then
    append" updates a vector (an index whose rows predate the
    ``_seq`` column hides every copy until it is rebuilt). Tombstones
    are bounded by the delete volume, and the serving anti-join is a
    broadcast-sized build side until deletes grow corpus-scale, at
    which point compaction is overdue anyway."""
    if isinstance(ids, DataFrame):
        df = ids.select(F.col(id_col).alias("id")).distinct()
    else:
        rows = [(i,) for i in ids]
        if not rows:  # empty delete: no tombstone file, no-op
            return
        # same inference createDataFrame applied (int → bigint), via a
        # pure-JVM VALUES relation instead of a pickled python RDD
        id_t = "bigint" if isinstance(rows[0][0], int) else "string"
        df = local_values_df(spark, rows, f"id {id_t}")
    df.withColumn("seq", F.lit(_next_seq(path)).cast("bigint")).write.mode(
        "append"
    ).parquet(f"{path}/tombstones")


# --- lifecycle ---------------------------------------------------------------


def _filed(fam: Family, vecs, meta, *, id_col, vec_col, seq, **payload) -> DataFrame:
    """Filed, encoded rows stamped with write sequence ``seq`` (None:
    an index stored without sequences keeps its schema)."""
    filed = fam.assign(vecs, meta, id_col=id_col, vec_col=vec_col)
    rows = fam.encode(filed, meta, id_col=id_col, vec_col=vec_col, **payload)
    if seq is None:
        return rows
    return rows.withColumn("_seq", F.lit(seq).cast("bigint"))


def build(fam: Family, emb: DataFrame, path: str, *, id_col: str = "vec_id",
          vec_col: str = "embedding", quantize: bool = False, **train) -> None:
    """Train the metadata, write it, then file and write every row."""
    vecs = emb.select(id_col, vec_col)
    meta, dirs = fam.train(vecs, id_col=id_col, vec_col=vec_col, **train)
    _write_meta(emb.sparkSession, path, fam, meta, swap=False)
    rows = _filed(fam, vecs, meta, id_col=id_col, vec_col=vec_col,
                  seq=_next_seq(path), **({"quantize": True} if quantize else {}))
    _write_rows(rows, path, fam, dirs, mode="overwrite")


def append(fam: Family, batch: DataFrame, path: str, *,
           id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """File a NEW batch under the stored metadata (never retrained —
    moving the filing function would strand every stored row) and
    append it in the stored layout and payload."""
    spark = batch.sparkSession
    pins = pin(path, fam)
    meta = read_meta(spark, path, fam, pins)
    stored = spark.read.parquet(pins[fam.rows]).schema
    names = stored.fieldNames()
    if "pq_codes" in names:
        payload = {"packed": stored["pq_codes"].dataType.simpleString() == "binary"}
    elif "qvec" in names:
        payload = {"quantize": True}
    else:
        payload = {"vec_type": stored[vec_col].dataType}
    seq = _next_seq(path) if "_seq" in names else None
    rows = _filed(fam, batch.select(id_col, vec_col), meta, id_col=id_col,
                  vec_col=vec_col, seq=seq, **payload)
    _write_rows(rows, path, fam, row_dirs(path, fam), mode="append")


def compact(fam: Family, spark: SparkSession, path: str) -> None:
    """Rewrite the row store without tombstoned ids (and through the
    family's ``recap``), clustered back to one file set per partition,
    by atomic swap; then drop the tombstones."""
    rows, id_col = read_rows(spark, path, fam)
    live = fam.recap(spark, path, without_tombstones(rows, path, id_col), id_col)
    _swap_rows(live, path, fam, row_dirs(path, fam))
    shutil.rmtree(pathlib.Path(path) / "tombstones", ignore_errors=True)


def _heal_root(path: str) -> None:
    """Finish or undo a root swap a crash interrupted: roll FORWARD
    when the sibling build completed, BACK to ``.__old__`` otherwise;
    then clear the debris."""
    p, tmp, old = pathlib.Path(path), f"{path}.__rebuild__", f"{path}.__old__"
    done = pathlib.Path(tmp) / "__complete__"
    if not p.exists():
        if done.exists():
            shutil.move(tmp, path)
        elif pathlib.Path(old).exists():
            shutil.move(old, path)
        else:
            raise FileNotFoundError(
                f"rebuild: no index at {path} and no recoverable "
                ".__rebuild__/.__old__ sibling"
            )
    (p / "__complete__").unlink(missing_ok=True)
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def rebuild(fam: Family, spark: SparkSession, path: str, *,
            corpus: DataFrame | None = None, id_col: str = "vec_id",
            vec_col: str = "embedding", **geometry) -> None:
    """Retrain and refile the LIVE set: ``corpus`` minus tombstones, or
    — without ``corpus`` — the stored rows deduplicated by id, decoded
    (int8 dequantizes) and minus tombstones, keeping the stored id and
    vector column names. Knobs left None keep their stored values
    (``Family.carry``); the row layout and the payload kind are kept.
    Publishes by root swap or by in-place subdirectory swaps
    (``Family.root_swap``), then drops the tombstones (a rebuild is
    also a compaction)."""
    if fam.root_swap:
        _heal_root(path)
    pins = pin(path, fam)
    geometry = fam.carry(read_meta(spark, path, fam, pins), geometry)
    dirs = row_dirs(path, fam)
    if corpus is None:
        if fam.needs_source:
            raise ValueError(f"rebuilding a {fam.name} index needs corpus=")
        stored, sid = read_rows(spark, path, fam, pins)
        live = without_tombstones(stored, path, sid)
        if fam.copies:  # copies are identical payloads: any one is THE vector
            live = live.dropDuplicates([sid])
        if "qvec" not in stored.columns:
            vec_col = next(
                f.name for f in stored.schema.fields
                if f.name not in fam.part_cols + _PAYLOAD
                and f.dataType.simpleString().startswith("array")
            )
        corpus, id_col = decode(live, sid, vec_col), sid
    else:
        corpus = without_tombstones(corpus.select(id_col, vec_col), path, id_col)
    if fam.root_swap:
        # build the sibling whole, mark it complete, then ONE top-level
        # swap: readers see the old index, ENOENT, or the new index
        tmp, old = f"{path}.__rebuild__", f"{path}.__old__"
        build(fam, corpus, tmp, id_col=id_col, vec_col=vec_col, dirs=dirs,
              **geometry)
        (pathlib.Path(tmp) / "__complete__").touch()
        shutil.move(path, old)
        shutil.move(tmp, path)
        (pathlib.Path(path) / "__complete__").unlink(missing_ok=True)
        shutil.rmtree(old)  # tombstones ride out with the old root
        return
    quantize = "qvec" in spark.read.parquet(pins[fam.rows]).columns
    corpus = corpus.persist()
    try:
        meta, _ = fam.train(corpus, id_col=id_col, vec_col=vec_col, dirs=dirs,
                            **geometry)
        # a fresh sequence: newer than every tombstone, so a crash
        # before the tombstones are dropped hides nothing it kept
        _swap_rows(_filed(fam, corpus, meta, id_col=id_col, vec_col=vec_col,
                          seq=_next_seq(path), quantize=quantize), path, fam, dirs)
        _write_meta(spark, path, fam, meta, swap=True)
    finally:
        corpus.unpersist()
    shutil.rmtree(pathlib.Path(path) / "tombstones", ignore_errors=True)


def index_stats(
    spark: SparkSession,
    path: str,
    *,
    tombstone_warn: float = 0.1,
    files_per_part_warn: float = 4.0,
    skew_warn: float = 4.0,
    occupancy_warn: float = 4.0,
    recall_target: float | None = None,
) -> dict:
    """Health report for a stored ANN index of any family and the
    MAINTENANCE TRIGGER the serving lifecycle needs: appends accumulate
    file sets per touched partition, deletes accumulate tombstones the
    serve path must anti-join every query, and drifted data can pile
    into one list — each is invisible until someone measures it.
    Everything here is a distributed aggregate collapsed to ONE driver
    row (no per-bucket collect — LSH bucket cardinality is
    corpus-sized), so the check itself is safe on a 100 TB index.

    Returns a dict:
      family            'ivf' | 'ivfpq' | 'lsh'
      rows_live         stored rows still visible to queries
      n_tombstones      distinct tombstoned ids pending compaction
      tombstone_frac    n_tombstones / (rows_live + n_tombstones)*
      n_partitions      list/bucket directories with data
      rows_max, rows_mean, skew  hottest partition vs mean
      n_files, files_per_part    parquet fragments (append debt)
      quantized         int8 payload layout detected
      recommendations   [] when healthy; human-readable actions
                        otherwise ('compact: ...', 'retrain: ...')
      multiprobe        (LSH only) ``multiprobe_advisor`` output

    *approximation: tombstones count ids WRITTEN, which for LSH is one
    id across up to n_tables partitions and may include ids never in
    the index (delete-before-append is the documented update recipe) —
    the fraction is a maintenance signal, not an exact live ratio.

    The thresholds are advisory defaults: a tombstone fraction over
    ~10% makes every query pay a visible anti-join build; more than ~4
    file sets per partition means the probed-directory scan opens 4×
    the footers it needs; IVF skew beyond ~4× the mean list says the
    centroids no longer describe the data (retrain), while LSH bucket
    skew is capped at build time so it signals append-cap drift
    (compact re-applies the global cap). ``occupancy_warn`` flags
    GROWTH debt: a mean partition more than that multiple of the
    adaptive-geometry target means the corpus outgrew the build-time
    cell/bit count, and the recommendation names the rebuild with
    "auto" geometry that restores the target."""
    fam = family_of(path)
    pins = pin(path, fam)
    df = spark.read.parquet(pins[fam.rows])
    # project the file name BEFORE aggregating (Spark refuses the
    # non-deterministic expression inside an aggregate function)
    per = (
        df.select(*fam.part_cols, F.input_file_name().alias("_file"))
        .groupBy(*fam.part_cols)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("_file").alias("files"),
        )
    )
    row = per.agg(
        F.count(F.lit(1)).alias("n_partitions"),
        F.sum("rows").alias("rows_live"),
        F.max("rows").alias("rows_max"),
        F.avg("rows").alias("rows_mean"),
        F.sum("files").alias("n_files"),
        F.avg("files").alias("files_per_part"),
    ).collect()[0]
    tomb = _tombstones(spark, path)
    n_tomb = tomb.count() if tomb is not None else 0

    rows_live = int(row.rows_live or 0)
    tombstone_frac = (
        n_tomb / (rows_live + n_tomb) if (rows_live + n_tomb) else 0.0
    )
    skew = float(row.rows_max / row.rows_mean) if row.rows_mean else 0.0
    rec: list[str] = []
    if tombstone_frac >= tombstone_warn:
        rec.append(
            f"compact: {tombstone_frac:.1%} of ids are tombstoned — every "
            "query pays the anti-join; rewrite the live set "
            f"(compact_{fam.name}_index)"
        )
    if float(row.files_per_part or 0) >= files_per_part_warn:
        rec.append(
            f"compact: {float(row.files_per_part):.1f} file sets per "
            "partition (append debt) — probed scans open that many extra "
            "footers"
        )
    if skew >= skew_warn:
        rec.append(fam.skew_note.format(skew=skew))
    mean_rows = float(row.rows_mean or 0.0)
    if mean_rows >= occupancy_warn * fam.target:
        rec.append(
            f"retrain: mean partition holds {mean_rows:.0f} rows vs the "
            f"~{fam.target} adaptive-geometry target — the corpus outgrew "
            "the build-time " + fam.rebuild_hint
        )
    advisor = fam.advise(spark, path, pins, recall_target, rec)
    return {
        **({"multiprobe": advisor} if advisor is not None else {}),
        "family": fam.name,
        "rows_live": rows_live,
        "n_tombstones": n_tomb,
        "tombstone_frac": round(tombstone_frac, 6),
        "n_partitions": int(row.n_partitions),
        "rows_max": int(row.rows_max or 0),
        "rows_mean": round(float(row.rows_mean or 0.0), 3),
        "skew": round(skew, 3),
        "n_files": int(row.n_files or 0),
        "files_per_part": round(float(row.files_per_part or 0.0), 3),
        "quantized": "qvec" in df.columns,
        "recommendations": rec,
    }


def maintain_index(
    spark: SparkSession,
    path: str,
    **stat_thresholds,
) -> dict:
    """The scheduled-maintenance one-shot: run ``index_stats`` and
    APPLY every compact-class recommendation (tombstone debt, append
    fragmentation, LSH cap drift) with the family's compaction, then
    re-measure. Retrain-class recommendations are REPORTED but never
    auto-applied — retraining changes served results, so it stays a
    deliberate operator action (``rebuild``).

    Returns {"family", "before", "actions", "after"}: the stats rows
    either side and the action strings executed. A healthy index is a
    no-op ("actions": []), so this is safe to run on a cron cadence.
    ``stat_thresholds`` pass through to ``index_stats`` (including
    ``recall_target``, which turns a deficit LSH store's recall note
    into the advisor's priced ``recall-rebuild:`` action — still
    operator-applied, never automatic)."""
    before = index_stats(spark, path, **stat_thresholds)
    actions: list[str] = []
    if any(r.startswith("compact:") for r in before["recommendations"]):
        fam = family_of(path)
        compact(fam, spark, path)
        actions.append(fam.compactor)
    after = index_stats(spark, path, **stat_thresholds) if actions else before
    return {
        "family": before["family"],
        "before": before,
        "actions": actions,
        "after": after,
    }
