"""Reproducible clustered-purge measurement at production-like nlist
(r11, promoting the r10 one-off — BASELINE.md "Round 10: clustered purge
at nlist=256"): the directory-pruning claim for compressed-store
maintenance, measured where it actually matters — many lists and a
CLUSTERED doomed set (a source drop / near-dup kill list lands in few
Voronoi cells by construction), not the gated toy shape (nlist=16,
uniform modular purge that touches every list).

Protocol (the exact ivfpq_delete flow, driven with explicit models so the
store has 256 directories):

1. fit IvfModel(nlist=256, sample=40k) + default PqModel on SF_DIR;
   build the IVFPQ store: codes ⋈ assignment, partitioned by list_id.
2. doomed set = the member ids of 3 Voronoi cells, handed to the patch
   AS AN ID LIST (the patch does not know they cluster).
3. PATCH (timed): re-assign only the doomed vectors against the
   centroids -> touched list dirs; pruned read of those dirs, drop
   doomed, dynamic partition overwrite, delete emptied dirs.
4. REBUILD baseline (timed): recompute codes + assignment for the whole
   corpus and write a fresh store.
5. verify: zero doomed rows remain, survivor rows untouched; print one
   JSON line {patch_s, rebuild_s, ratio, dirs_touched, nlist, n_doomed}.

Usage:  python tools/clustered_purge.py [SF_DIR]
        (default /tmp/enn_scale/sfdistinct2m — rebuild it via the
        tools/README.md recipe if the container was rotated; ~1 min at
        2M vectors, opt-in / not part of the test suite.)

r10 result on sfdistinct2m (2M distinct, 8M code rows, 256 dirs): doomed
= 24,219 ids in 3 cells; patch 3.9 s vs rebuild 45.0 s — 11.5x cheaper,
touching 3/256 (~1/85) of the store's bytes. The byte ratio is the bound
that carries to 100 TB; fixed per-job latency already dominates the
patch's wall-clock at 2M, so the gap widens with scale.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

NLIST = 256
FIT_SAMPLE = 40_000
DOOMED_CELLS = 3


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/enn_scale/sfdistinct2m"
    from elastik_nearest_neighbors_spark import io
    from elastik_nearest_neighbors_spark.operators.ivf import IvfModel, build_ivf_index
    from elastik_nearest_neighbors_spark.operators.pq import PqModel
    from elastik_nearest_neighbors_spark.session import get_spark
    from elastik_nearest_neighbors_spark.sources.index_store import save_ivf_index

    spark = get_spark(app_name="enn-clustered-purge", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    emb = io.table(spark, sf_dir, "embeddings", widen=True)

    ivf_model = IvfModel.fit_path(sf_dir, nlist=NLIST, sample_n=FIT_SAMPLE)
    pq_model = PqModel.fit_path(sf_dir)
    base = "/tmp/enn_clustered_purge"
    shutil.rmtree(base, ignore_errors=True)
    store = os.path.join(base, "store")
    rebuilt = os.path.join(base, "rebuilt")

    def codes_and_assignment():
        codes = emb.select(
            "vec_id",
            F.posexplode(pq_model.codes_udf()(F.col("embedding"))).alias("m", "code"),
        )
        assign = build_ivf_index(emb, ivf_model).select("vec_id", "list_id")
        return codes.join(assign, "vec_id")

    t0 = time.perf_counter()
    save_ivf_index(codes_and_assignment(), store)
    build_s = time.perf_counter() - t0
    total_rows = spark.read.parquet(store).count()

    # the kill list: every member of the first DOOMED_CELLS Voronoi cells —
    # arrives as a plain id list, exactly like a source-drop / near-dup set
    doomed_ids = [
        int(r.vec_id)
        for r in spark.read.parquet(store)
        .where(F.col("list_id") < DOOMED_CELLS)
        .select("vec_id")
        .distinct()
        .collect()
    ]
    # the kill list travels as a broadcast RELATION, not an isin literal
    # list — a 10^4-entry literal IN is a linear per-row scan and a
    # plan-size hazard; the anti/semi joins below are the same broadcast
    # drop-list shape the curation operators use
    doomed_df = spark.createDataFrame(
        [(i,) for i in doomed_ids], "vec_id bigint"
    ).localCheckpoint()
    doomed = emb.join(F.broadcast(doomed_df), "vec_id", "left_semi")

    # PATCH (the ivfpq_delete flow): re-assign ONLY the doomed vectors to
    # find the touched dirs, prune-read, drop, dynamic overwrite
    t0 = time.perf_counter()
    parts = [
        int(r.list_id)
        for r in build_ivf_index(doomed, ivf_model)
        .select("list_id")
        .distinct()
        .collect()
    ]
    existing = (
        spark.read.parquet(store)
        .where(F.col("list_id").isin(parts))
        .select("vec_id", "m", "code", "list_id")
    )
    patched = existing.join(F.broadcast(doomed_df), "vec_id", "left_anti").localCheckpoint()
    live = {int(r.list_id) for r in patched.select("list_id").distinct().collect()}
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        patched.repartition("list_id").write.mode("overwrite").partitionBy(
            "list_id"
        ).parquet(store)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    for lid in parts:
        if lid not in live:
            io.fs_delete(spark, io.fs_join(store, f"list_id={lid}"))
    patch_s = time.perf_counter() - t0

    after = spark.read.parquet(store)
    doomed_left = after.join(F.broadcast(doomed_df), "vec_id", "left_semi").count()
    survivors = after.count()

    t0 = time.perf_counter()
    save_ivf_index(codes_and_assignment(), rebuilt)
    rebuild_s = time.perf_counter() - t0

    assert doomed_left == 0, doomed_left
    expect_survivors = total_rows - len(doomed_ids) * pq_model.m
    assert survivors == expect_survivors, (survivors, expect_survivors)
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "nlist": NLIST,
                "n_doomed": len(doomed_ids),
                "dirs_touched": len(parts),
                "build_s": round(build_s, 1),
                "patch_s": round(patch_s, 1),
                "rebuild_s": round(rebuild_s, 1),
                "ratio": round(rebuild_s / patch_s, 1),
                "store_rows": total_rows,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
