"""Round-5 scale-stress (VERDICT r04 item 2): run the flagship and the
dedup/ANN families at ~10x the per-round bench volume on local[32],
recording wall time plus peak shuffle/memory from the Spark event log,
and confirming the flagship plan invariants at 600k images and the
branch that never executes at bench scale:

  * the fused flagship has no join; its salted fallback joins only the
    coverage (pip_join's prefix key), never a caption table
  * pip_join's salted / non-broadcast coverage join

Row-count oracles: the salted pip_join must match the broadcast path's
count on the SAME 24M-point input; the flagship rollup must satisfy
n_captions == n_images per polygon (caption correctness) and
cover exactly n_polygons rows; replicated-corpus minhash must find at
least the closed-form count of identical-replica pairs.

Usage:  python tools/scale_stress_sf1.py          (~4-6 min, one run)
Writes BENCH_round{N}_sf1.json (STRESS_ROUND, default 6) at the repo root.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_IMAGES = int(os.environ.get("STRESS_IMAGES", "600000"))
N_POINTS = int(os.environ.get("STRESS_POINTS", "24000000"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def eventlog_metrics(log_dir: str) -> dict:
    """Aggregate shuffle / memory out of the Spark event log: total and
    peak-stage shuffle write bytes, peak single-task execution memory."""
    total_sw = 0
    per_stage: dict = {}
    peak_task_mem = 0
    paths = [
        os.path.join(r, fn)
        for r, _, fns in os.walk(log_dir)
        for fn in fns
        if fn.startswith("events_")
    ]
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                tm = ev.get("Task Metrics") or {}
                sw = (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                total_sw += sw
                sid = ev.get("Stage ID", -1)
                per_stage[sid] = per_stage.get(sid, 0) + sw
                peak_task_mem = max(
                    peak_task_mem, tm.get("Peak Execution Memory", 0)
                )
    return {
        "shuffle_write_total_mb": round(total_sw / 1e6, 1),
        "shuffle_write_peak_stage_mb": round(
            max(per_stage.values(), default=0) / 1e6, 1
        ),
        "peak_task_execution_memory_mb": round(peak_task_mem / 1e6, 1),
    }


def main() -> None:
    try:
        os.sched_setaffinity(0, set(range(CPUS)))
    except (AttributeError, OSError):
        pass
    evdir = tempfile.mkdtemp(prefix="sparkevlog_")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("h3spark_scale_stress_sf1")
        .config("spark.sql.shuffle.partitions", str(CPUS * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import h3ronpy_spark.functions as H
    from h3ronpy_spark.operators.dedup import (
        dedup_components,
        minhash_lsh_pairs,
    )
    from h3ronpy_spark.operators.similarity import (
        brute_force_topk,
        lsh_posting_list_stats,
        lsh_topk,
    )
    from h3ronpy_spark.operators.spatial_join import (
        pip_join,
        polyfill_polygons,
    )
    from h3ronpy_spark.plans.flagship import flagship
    from h3ronpy_spark.sources.polygons import synth_polygons

    out: dict = {
        "n_images": N_IMAGES,
        "n_points": N_POINTS,
        "cpus": CPUS,
        "sections": {},
    }

    # ---- A: flagship at 600k images: the fused plan has no join, and
    # the salted fallback's only joins are pip_join's coverage joins
    polys = synth_polygons(spark, 60, seed=42)
    cov = (
        polyfill_polygons(polys, 9, compact=True)
        .withColumnRenamed("cell", "__poly_cell")
        .persist()
    )
    cov.count()
    flag = flagship(
        spark, n_images=N_IMAGES, n_polygons=60, res=9,
        coverage=cov,
    )
    plan = flag._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, "fused flagship plan has a join!"
    salted = flagship(
        spark, n_images=N_IMAGES, n_polygons=60, res=9, coverage=cov, salt=4
    )
    salted_joins = [
        ln.strip()
        for ln in salted._jdf.queryExecution().executedPlan()
        .toString().splitlines()
        if "Join" in ln
    ]
    assert salted_joins and all("__pref" in j for j in salted_joins), (
        "salted flagship fallback joins more than the coverage!",
        salted_joins,
    )
    t0 = time.time()
    rows = flag.collect()
    t_flag = time.time() - t0
    assert 0 < len(rows) <= 60, len(rows)
    bad = [r for r in rows if r["n_captions"] != r["n_images"]]
    assert not bad, bad[:3]
    out["sections"]["flagship_sf1"] = {
        "secs": round(t_flag, 2),
        "rows": len(rows),
        "sum_tiles": int(sum(r["n_tiles"] for r in rows)),
        "sum_images": int(sum(r["n_images"] for r in rows)),
        "salted_fallback_joins": len(salted_joins),
        "oracle_n_captions_eq_n_images": True,
        "images_per_sec": round(N_IMAGES / t_flag, 1),
    }
    print("flagship_sf1", out["sections"]["flagship_sf1"], flush=True)

    # ---- A2 (round 6): the SAME flagship over the JPEG-compressed twin
    # corpus — the vectorized entropy encoder + decoder under full scale
    # load.  Caption consistency stays exact; tile counts may diverge
    # within the lossy envelope (see inline comments below).
    n_jpeg = int(os.environ.get("STRESS_JPEG_IMAGES", str(N_IMAGES)))
    t0 = time.time()
    jrows = flagship(
        spark, n_images=n_jpeg, n_polygons=60, res=9,
        coverage=cov, fmt="jpeg",
    ).collect()
    t_jpeg = time.time() - t0
    jmap = {r["poly_id"]: r for r in jrows}
    # every poly internally consistent (captions correct)
    jbad = [r for r in jrows if r["n_captions"] != r["n_images"]]
    assert not jbad, jbad[:3]
    tile_rel = img_mism = None
    if n_jpeg == N_IMAGES:
        amap = {r["poly_id"]: r for r in rows}
        assert set(jmap) == set(amap)
        # JPEG is LOSSY and tile_images drops nodata(=0) pixels, so a
        # raw pixel flipping 0<->1 under quantization legitimately
        # adds/removes tiles; the invariant is closeness, not equality
        # (pixel-independent aggregates — captions per image — stay
        # exact above).  An image can even drop out of a poly when its
        # ONLY tile there flips to nodata, so n_images tolerates a
        # sub-percent mismatch fraction.
        a_t = sum(r["n_tiles"] for r in rows)
        j_t = sum(r["n_tiles"] for r in jrows)
        tile_rel = abs(a_t - j_t) / max(a_t, 1)
        assert tile_rel < 0.02, (a_t, j_t, tile_rel)
        img_mism = sum(
            1 for p in amap
            if amap[p]["n_images"] != jmap[p]["n_images"]
        )
        assert img_mism <= max(1, len(amap) // 20), img_mism
    out["sections"]["flagship_jpeg_sf1"] = {
        "secs": round(t_jpeg, 2),
        "rows": len(jrows),
        "n_images": n_jpeg,
        "sum_tiles": int(sum(r["n_tiles"] for r in jrows)),
        "tile_rel_diff_vs_raw": tile_rel,
        "polys_with_n_images_mismatch": img_mism,
        "images_per_sec": round(n_jpeg / t_jpeg, 1),
    }
    print(
        "flagship_jpeg_sf1", out["sections"]["flagship_jpeg_sf1"],
        flush=True,
    )

    # ---- B: salted vs broadcast pip_join on the same 24M points
    points = spark.range(0, N_POINTS, 1, CPUS * 2).select(
        F.col("id"),
        (F.pmod(F.col("id") * 2654435761, F.lit(1700000)) / 10000.0
         - 85.0).alias("lat"),
        (F.pmod(F.col("id") * 40503, F.lit(3600000)) / 10000.0
         - 180.0).alias("lng"),
    )
    enc = points.select(
        "id", H.coordinates_to_cells("lat", "lng", F.lit(9)).alias("cell")
    )
    t0 = time.time()
    n_bcast = pip_join(enc, polys, res=9, coverage=cov).count()
    t_b = time.time() - t0
    t0 = time.time()
    n_salted = pip_join(
        enc, polys, res=9, broadcast_threshold_rows=1, salt=8,
        prefilter=False,  # round-6 comparable: raw salted shuffle
    ).count()
    t_s = time.time() - t0
    assert n_salted == n_bcast, (n_salted, n_bcast)
    # round-7 (VERDICT r06 item 5): the two-stage probe — coarse
    # ancestor prefilter (broadcast semi join, codegen) drops
    # non-matching points BEFORE the salted shuffle; same args as the
    # raw salted leg, prefilter on (the default)
    t0 = time.time()
    n_pref = pip_join(
        enc, polys, res=9, broadcast_threshold_rows=1, salt=8,
    ).count()
    t_p = time.time() - t0
    assert n_pref == n_bcast, (n_pref, n_bcast)
    out["sections"]["pip_join_salted_24m"] = {
        "broadcast_secs": round(t_b, 2),
        "salted_shuffle_secs": round(t_s, 2),
        "salted_prefilter_secs": round(t_p, 2),
        "joined_rows": int(n_bcast),
        "oracle_counts_equal": True,
    }
    print("pip_join", out["sections"]["pip_join_salted_24m"], flush=True)
    cov.unpersist()

    # ---- C: minhash dedup on a 10x-replicated corpus (50k docs).
    # Every base doc appears in 10 replicas with identical text, so the
    # pair list must contain at least C(10,2) * n_base identical pairs
    # (identical text -> identical signature -> same buckets; the skew
    # guard never drops same-signature pairs below max_bucket).
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    n_base = docs.count()
    rep = docs.select(
        "doc_id",
        "text",
        F.explode(F.array(*[F.lit(k) for k in range(10)])).alias("__k"),
    ).select(
        (F.col("doc_id") + F.col("__k") * 10_000_000).alias("doc_id"),
        "text",
    )
    t0 = time.time()
    pairs = minhash_lsh_pairs(rep, threshold=0.9).persist()
    n_pairs = pairs.count()
    t_mh = time.time() - t0
    assert n_pairs >= 45 * n_base, (n_pairs, n_base)
    stats: dict = {}
    t0 = time.time()
    comp = dedup_components(pairs, _stats=stats)
    n_nodes = comp.count()
    n_comp = comp.select("component").distinct().count()
    t_cc = time.time() - t0
    pairs.unpersist()
    out["sections"]["dedup_minhash_10x"] = {
        "docs": int(n_base * 10),
        "pairs_secs": round(t_mh, 2),
        "n_pairs": int(n_pairs),
        "components_secs": round(t_cc, 2),
        "n_nodes": int(n_nodes),
        "n_components": int(n_comp),
        "cc_iterations": stats.get("iterations"),
        "oracle_min_identical_pairs": True,
    }
    print("dedup", out["sections"]["dedup_minhash_10x"], flush=True)

    # ---- D: ANN at 10x embeddings (20k vectors), recall vs brute force
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    emb10 = (
        emb.select(
            "vec_id",
            "embedding",
            F.explode(F.array(*[F.lit(k) for k in range(10)])).alias("__k"),
        )
        .select(
            (F.col("vec_id") + F.col("__k") * 10_000_000).alias("vec_id"),
            "embedding",
        )
        .persist()
    )
    n_emb = emb10.count()
    queries = (
        emb.limit(20)
        .select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
    )
    t0 = time.time()
    truth = {
        (r["qid"], r["vec_id"])
        for r in brute_force_topk(emb10, queries, k=10).collect()
    }
    t_bf = time.time() - t0
    t0 = time.time()
    approx = {
        (r["qid"], r["vec_id"])
        for r in lsh_topk(emb10, queries, k=10).collect()
    }
    t_lsh = time.time() - t0
    recall = len(truth & approx) / max(len(truth), 1)
    drops = lsh_posting_list_stats(emb10).agg(
        F.max("dropped_frac").alias("m")
    ).first()["m"]
    emb10.unpersist()
    out["sections"]["ann_10x"] = {
        "vectors": int(n_emb),
        "brute_force_secs": round(t_bf, 2),
        "lsh_secs": round(t_lsh, 2),
        "recall_at_10": round(recall, 4),
        "max_band_dropped_frac": float(drops or 0.0),
    }
    print("ann", out["sections"]["ann_10x"], flush=True)

    spark.stop()
    time.sleep(2)  # let the event log flush
    out["resource_metrics"] = eventlog_metrics(evdir)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rnd = os.environ.get("STRESS_ROUND", "6")
    with open(os.path.join(here, f"BENCH_round{rnd}_sf1.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
