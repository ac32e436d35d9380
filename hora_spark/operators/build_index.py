"""Index build: transcripts/text table → doc-range-sharded compressed
segment table, in ONE data pass.

The `build()` analog (/root/reference/src/core/ann_index.rs:30). Where hora
freezes added rows into an in-memory graph/codebook under per-row locks
(HNSW batch_construct, /root/reference/src/index/hnsw_idx.rs:464-476), the
distributed build is a pure dataflow — posting merge is associative, so the
lock-protected shared mutation disappears entirely.

Hot-path shape (single-wave default; NO persist/cache anywhere — local-mode
cache builds were measured to cost more than the compute they save, and on
a real cluster they'd pressure executor storage memory for no reuse):

  assign doc ids (range shuffle, parquet-staged once)
  → Arrow tokenize+tf pass (map-side tf, no explode shuffle)
  → groupBy(shard) [the ONE heavy shuffle] → vectorized encode → write
  → metadata jobs over the WRITTEN segment parquet with the blob columns
    pruned: corpus stats (N, avgdl from the inline norms rows), term df/idf
    table, per-shard lineage — then one snapshot commit.

The block bounds stored are avgdl-FREE: per block, max tf and min dl. The
query-time upper bound idf·sat(tf_max, dl_min) dominates idf·sat(tf, dl)
for every doc in the block (sat rises with tf, falls with dl), so WAND
pruning stays exact while the build needs NO global statistic — that is
what collapses the build to one pass. (The reference's analogous move is
PQ precomputing LUT pieces that combine at query time,
/root/reference/src/index/pq_idx.rs:165-194.)

Sharding: shard_id = doc_id // shard_size with n_shards fixed by CONFIG,
not core count → segment bytes identical at any parallelism (SURVEY §4 row
10). Doc-range sharding is simultaneously the hot-term salting: a hot
term's postings split across all shards (the range form of the north_star's
salted repartition-by-term), the same shape as IVFPQ's inverted lists
(/root/reference/src/index/pq_idx.rs:357-437).

Resume (north_rule): multi-wave builds stage the tf table as parquet and
commit segments + lineage per wave; a restarted build anti-joins completed
seg_ids — the partial, idempotent upgrade of hora's monolithic dump/load
(/root/reference/src/index/hnsw_idx.rs:647-719).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hora_spark.config import EngineConfig
from hora_spark.functions.bm25 import idf_col
from hora_spark.operators.corpus import assign_doc_ids
from hora_spark.operators.segments import (
    NORMS_TERM,
    SEGMENT_SCHEMA,
    map_partial_segments,
    merge_shard_rows,
)
from hora_spark.sources.storage import SnapshotStore

LINEAGE_COLS = [
    "build_id", "seg_id", "term_lo", "term_hi", "n_terms",
    "doc_count", "bytes", "wall_time_s",
]

def _has_parquet(spark: SparkSession, d: str) -> bool:
    """True if the dir contains any parquet file — via the Hadoop
    FileSystem API so the check works on HDFS/S3 like the rest of the
    metadata pass (an os.walk here would see nothing on a remote FS and
    silently commit an empty index)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(d)
    fs = path.getFileSystem(hconf)
    if not fs.exists(path):
        return False
    it = fs.listFiles(path, True)  # recursive
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return True
    return False


def _shard_bytes(spark: SparkSession, d: str) -> dict[int, int]:
    """Parquet bytes per shard_id= partition of one segment dir, via the
    Hadoop FileSystem API (works on local FS, HDFS, S3A alike)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(d)
    fs = path.getFileSystem(hconf)
    out: dict[int, int] = {}
    if not fs.exists(path):
        return out
    for sub in fs.listStatus(path):
        name = sub.getPath().getName()
        if not (sub.isDirectory() and name.startswith("shard_id=")):
            continue
        sid = int(name.split("=", 1)[1])
        total = 0
        for f in fs.listStatus(sub.getPath()):
            if f.getPath().getName().endswith(".parquet"):
                total += int(f.getLen())
        out[sid] = total
    return out


def _commit_stats_and_lineage(
    spark: SparkSession,
    store: SnapshotStore,
    seg_dirs: list[str],
    cfg: EngineConfig,
    build_id: str,
    wall_by_dir: dict[str, float],
    extra_meta: dict,
) -> None:
    """Metadata pass over the written segment parquet (blob columns pruned
    by column projection): corpus stats + term idf table + lineage."""
    seg_meta = None
    for d in seg_dirs:
        if not _has_parquet(spark, d):
            # an empty/all-empty-text corpus writes only _SUCCESS — reading
            # it would fail schema inference
            continue
        part = spark.read.parquet(d).select(
            "shard_id", "term", "df_local", "block_tf_max",
        ).withColumn("_dir", F.lit(d))
        seg_meta = part if seg_meta is None else seg_meta.unionByName(part)

    if seg_meta is None:
        # no live segments at all: commit an EMPTY but well-formed index
        # (searches return 0 rows instead of raising)
        d_stats = store.write_table(
            "stats", spark.createDataFrame([], "term string, df long, idf double")
        )
        d_lin = store.stage_dir("lineage")
        spark.createDataFrame(
            [], "build_id string, seg_id int, term_lo string, term_hi string, "
                "n_terms long, doc_count long, bytes long, wall_time_s double",
        ).write.mode("overwrite").parquet(d_lin)
        store.commit(
            {"stats": [d_stats], "lineage": [d_lin]},
            replace=True,
            meta={"n_docs": 0, "avgdl": 1.0, "build_id": build_id, **extra_meta},
        )
        return

    norms = seg_meta.filter(F.col("term") == NORMS_TERM)
    terms = seg_meta.filter(F.col("term") != NORMS_TERM)

    def _write_lineage() -> str:
        # bytes per shard from the FILESYSTEM, not by re-reading blob
        # columns (aggregating array<binary> lengths forces a full blob
        # scan — measured ~120 core-s at the 1.25M-turn fixture; file
        # sizes are free). The walk uses the Hadoop FileSystem API so
        # lineage works on HDFS/S3 too, and the (dir, shard) → (bytes,
        # wall) map joins in as a broadcast side — its cardinality is
        # shards × dirs, driver-trivial, and the join keeps the whole
        # lineage job JVM-side (no per-row Python).
        sizes_rows = [
            (d, sid, sz, float(wall_by_dir.get(d, 0.0)))
            for d in seg_dirs
            for sid, sz in _shard_bytes(spark, d).items()
        ]
        sizes_df = spark.createDataFrame(
            sizes_rows or [("", -1, 0, 0.0)],
            "_dir string, shard_id int, bytes long, wall_time_s double",
        )
        lineage = (
            terms.groupBy("shard_id", "_dir")
            .agg(
                F.min("term").alias("term_lo"),
                F.max("term").alias("term_hi"),
                F.count(F.lit(1)).alias("n_terms"),
                F.sum("df_local").alias("doc_count"),
            )
            .join(F.broadcast(sizes_df), ["shard_id", "_dir"], "left")
            .na.fill({"bytes": 0, "wall_time_s": 0.0})
            .withColumn("build_id", F.lit(build_id))
            .withColumn("seg_id", F.col("shard_id"))
            .select(*LINEAGE_COLS)
        )
        d = store.stage_dir("lineage")
        lineage.write.mode("overwrite").parquet(d)
        return d

    # all three metadata actions are independent once the norms aggregate
    # is expressed as a plan instead of a collected literal, so they run
    # CONCURRENTLY from driver threads (guide §2.6: actions are only
    # sequential because driver code calls them sequentially): the
    # lineage write, the stats write (idf takes n_docs from a broadcast
    # cross join of the one-row norms aggregate — identical double math
    # to the former driver literal), and the tiny norms collect that
    # meta needs. All scan the same pruned metadata columns, and the
    # scheduler back-fills each job's straggler tail with the others'.
    from concurrent.futures import ThreadPoolExecutor

    ndocs_agg = norms.agg(
        F.sum("df_local").alias("n_docs"),
        F.sum(F.element_at("block_tf_max", 1)).alias("sum_dl"),
    )

    def _write_stats() -> str:
        term_stats = (
            terms.groupBy("term")
            .agg(F.sum("df_local").alias("df"))
            .crossJoin(F.broadcast(
                ndocs_agg.select(F.coalesce("n_docs", F.lit(0))
                                 .alias("_n_docs"))))
            .withColumn("idf", idf_col(F.col("_n_docs"), F.col("df"),
                                       cfg.bm25))
            .drop("_n_docs")
        )
        return store.write_table("stats",
                                 term_stats.sortWithinPartitions("term"))

    with ThreadPoolExecutor(max_workers=2) as pool:
        fut_lineage = pool.submit(_write_lineage)
        fut_stats = pool.submit(_write_stats)
        row = ndocs_agg.collect()[0]
        n_docs = int(row["n_docs"] or 0)
        avgdl = float(row["sum_dl"]) / n_docs if n_docs else 1.0
        d_stats = fut_stats.result()
        d_lin = fut_lineage.result()
    # replace: stats and lineage are recomputed in full from the final
    # segment set (mid-build wave commits only carried resume stubs)
    store.commit(
        {"stats": [d_stats], "lineage": [d_lin]},
        replace=True,
        meta={"n_docs": n_docs, "avgdl": avgdl, "build_id": build_id, **extra_meta},
    )


def build_index(
    spark: SparkSession,
    df: DataFrame,
    store: SnapshotStore,
    text_col: str = "text",
    id_col: str | None = None,
    order_cols: list[str] | None = None,
    cfg: EngineConfig | None = None,
    build_id: str = "build-0",
    waves: int = 1,
    resume: bool = False,
    fail_after_wave: int | None = None,
) -> dict:
    """Full index build. waves>1 stages the tf table and commits segments +
    lineage per wave (crash-resumable); waves=1 is the one-pass hot path.

    fail_after_wave: test hook — raise after committing that many waves,
    simulating a mid-build crash (resume fixture, FIXTURES.md §5).
    """


    cfg = cfg or EngineConfig()
    dbg = os.environ.get("HORA_BUILD_DEBUG") == "1"
    t_start = time.perf_counter()

    def _dbg(label: str) -> None:
        if dbg:
            print(f"[build] {label}: {time.perf_counter() - t_start:.1f}s", flush=True)

    done_segs: set[int] = set()
    if resume and store.exists("lineage"):
        done_segs = {
            int(r["seg_id"])
            for r in store.read("lineage").select("seg_id").distinct().collect()
            if int(r["seg_id"]) >= 0  # negative ids are append-batch stubs
        }

    if resume and store.exists("partials"):
        meta = store.meta()
        shard_size = int(meta["shard_size"])
        max_id = int(meta["max_doc_id"])
        # the resumed build must use the SAME shard count the original
        # derived; for metas that predate the n_shards key, the staged
        # layout itself is the ground truth — re-deriving from cfg could
        # disagree with the staged shard_size (different cfg, or a span
        # above min_shards*target) and mislabel the committed layout
        n_shards = int(meta.get("n_shards")
                       or -(-(max_id + 1) // shard_size))
        partials = store.read("partials")
        staged = True
    else:
        # ---- ids + shard size (no tokenize needed) ------------------------
        if id_col is None:
            df, n_raw = assign_doc_ids(
                df, order_cols or ["conv_id", "turn_idx"], with_count=True,
                staging_dir=store.stage_dir("ingest"),
            )
            id_col = "doc_id"
            max_id = n_raw - 1
        else:
            max_id = int(df.agg(F.max(id_col)).collect()[0][0])
        # shard count from the COUNTED id span (adaptive by default —
        # bounds per-shard merge input by target_docs_per_shard; see
        # IndexConfig.n_shards_for), then shard_size = ceil(span/n_shards)
        n_shards = cfg.index.n_shards_for(max_id + 1)
        shard_size = max(1, (max_id + n_shards) // n_shards)
        _dbg("ids assigned")

        # small-corpus scan starvation: a corpus that lives in one file /
        # one parquet row group tokenizes in ONE task however many cores
        # exist (split granularity is the row group). When the counted
        # corpus is provably small — so one extra narrow shuffle of the
        # raw text is trivially cheap AND the double-execution risk of
        # df.rdd on exotic plans is bounded by the same row count — fan
        # the input out to the core count before the tokenize pass. Big
        # corpora never enter (they have enough splits, and their text
        # must not be re-shuffled; guide §2.3).
        para = spark.sparkContext.defaultParallelism
        if max_id + 1 <= 5_000_000 and para > 1:
            try:
                in_parts = df.rdd.getNumPartitions()
            except Exception:
                in_parts = para
            if in_parts < para:
                df = df.repartition(para)
                _dbg(f"input fanned out {in_parts} → {para} partitions")

        # ---- ONE tokenize pass → map-side PARTIAL segment rows ------------
        # (postings pre-packed per (shard, term) per batch: the shuffle and
        # every Arrow boundary carries ~|vocab|·|batches| blob rows instead
        # of |postings| string rows)
        partials = map_partial_segments(
            df, text_col, id_col, shard_size,
            unicode=cfg.index.unicode,
            store_positions=cfg.index.store_positions,
            field_cols=list(cfg.index.field_cols),
        )
        staged = waves > 1
        if staged:
            d_tf = store.write_table("partials", partials, partition_by=["shard_id"])
            store.commit({"partials": [d_tf]},
                         meta={"shard_size": shard_size, "max_doc_id": max_id,
                               "n_shards": n_shards})
            partials = store.read("partials")

    # ---- encode waves -------------------------------------------------------
    all_shards = [s for s in range(n_shards) if s not in done_segs]
    wave_size = max(1, -(-len(all_shards) // max(waves, 1)))
    block_size = cfg.index.block_size
    seg_dirs: list[str] = []
    wall_by_dir: dict[str, float] = {}
    waves_done = 0
    for w0 in range(0, len(all_shards), wave_size):
        wave_shards = all_shards[w0: w0 + wave_size]
        t0 = time.perf_counter()
        part = partials
        if len(wave_shards) < n_shards:
            part = part.filter(F.col("shard_id").isin(wave_shards))
        # pin the merge exchange to one partition per shard (AQE bucketing
        # lumps several shards into one task and creates stragglers)
        store_dl = cfg.index.store_dl
        segs = (
            part.repartition(len(wave_shards), "shard_id")
            .groupBy("shard_id")
            .applyInPandas(
                lambda pdf: merge_shard_rows(pdf, block_size, store_dl=store_dl),
                SEGMENT_SCHEMA,
            )
        )
        d_seg = store.stage_dir("segments")
        segs.write.mode("overwrite").partitionBy("shard_id").parquet(d_seg)
        wall_by_dir[d_seg] = time.perf_counter() - t0
        _dbg(f"wave {waves_done} encoded+written")
        seg_dirs.append(d_seg)
        if staged:  # per-wave checkpoint only matters when tf is reusable
            lineage_stub = spark.createDataFrame(
                [(build_id, int(s), "", "", 0, 0, 0, wall_by_dir[d_seg]) for s in wave_shards],
                "build_id string, seg_id int, term_lo string, term_hi string, "
                "n_terms long, doc_count long, bytes long, wall_time_s double",
            )
            d_lin = store.stage_dir("lineage")
            lineage_stub.write.mode("overwrite").parquet(d_lin)
            store.commit({"segments": [d_seg], "lineage": [d_lin]}, replace=False)
        waves_done += 1
        if fail_after_wave is not None and waves_done >= fail_after_wave:
            raise RuntimeError(f"injected failure after wave {waves_done}")

    if not staged and seg_dirs:
        store.commit({"segments": seg_dirs}, replace=False)

    if resume and not all_shards and "avgdl" in store.meta():
        # degenerate resume: every shard was already built AND the current
        # snapshot already carries complete corpus stats. Recommitting
        # would recompute stats over the FULL current segment set — which,
        # if the index has since taken append deltas, silently absorbs
        # them into the frozen stats (a rebuild in disguise, breaking the
        # append-keeps-stats-frozen contract). A completed build's resume
        # is a no-op: report and leave the snapshot untouched.
        return {
            "build_id": build_id,
            "version": store.current_version(),
            "n_shards": n_shards,
            "shards_built": 0,
            "shards_skipped": len(done_segs),
        }

    # ---- metadata: stats + real lineage + meta (one pruned read) -----------
    all_seg_dirs = store.tables().get("segments", [])
    _commit_stats_and_lineage(
        spark, store, all_seg_dirs, cfg, build_id, wall_by_dir,
        extra_meta={
            "shard_size": shard_size,
            "n_shards": n_shards,
            "max_doc_id": max_id,
            "next_doc_id": max_id + 1,
            "bm25": {"k1": cfg.bm25.k1, "b": cfg.bm25.b},
            # layout mode: queries read it to decide whether per-posting
            # dl_blocks exist or the norms sidecar must be scanned
            "store_dl": cfg.index.store_dl,
            # tokenizer mode: queries MUST tokenize with the index's mode
            "unicode": cfg.index.unicode,
            # positions layout: phrase queries require it; appends follow
            "store_positions": cfg.index.store_positions,
            # fielded-filter columns: queries validate fields= against
            # this list; appends re-derive the same '<field>:<token>'
            # postings — one index, one field schema
            "field_cols": list(cfg.index.field_cols),
        },
    )
    _dbg("stats+lineage committed")
    return {
        "build_id": build_id,
        "version": store.current_version(),
        "n_shards": n_shards,
        "shards_built": len(all_shards),
        "shards_skipped": len(done_segs),
    }
