"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "scan_filter",
    "expand_2hop",
    "expand_3hop_keyword_types",
    "agg_tpch_q1",
    "agg_stats",
    "var_length_1_2",
    "optional_match_count",
    "exists_pattern",
    "with_pipeline",
    "case_expression",
    "events_temporal",
    "text_profile",
    "dedup_exact_keep",
    "minhash_lsh_pairs",
    "similarity_topk",
    "similarity_topk_ivf",
    "cosine_near_dup_pairs",
    "curate_corpus",
    "construct_requery",
    "ddl_graph",
    "pack_sequences",
    "contamination_check",
    "pagerank",
    "repetition_profile",
    "pii_scrub",
    "chunk_documents",
    "triangle_count",
    "k_core",
    "node_similarity",
    "events_sessions",
    # round 7 surfaces
    "mutation_set_rematch",
    "spatial_distance_topk",
    "shortest_path_pairs",
    # round 8 surfaces
    "weighted_shortest_paths",
    "any_union_mixed",
    "label_propagation",
    "duplicate_spans",
    "hits_scores",
    "betweenness_sampled",
    # round 9 surfaces
    "agg_tpch_q3",
    "agg_tpch_q5",
    "scc_components",
    "closeness_centrality",
    "kmeans_embeddings",
    "random_walks",
    "skipgram_pairs",
    "k_truss",
    # round 10 surfaces
    "node2vec_walks",
    "asof_attribution",
    "bm25_retrieval",
    "pagerank_weighted",
    "resample_fill_forward",
    "rolling_time_agg",
    "pq_topk",
    "mis_conflict_free",
    # round 11 surfaces
    "asof_forward",
    "similarity_topk_ivfpq",
    "louvain_communities",
    "fastrp_embeddings",
    "resample_interpolate",
    "asof_nearest",
    "local_clustering",
]


def _stage_keys(spark):
    """(stageId, attemptId) of every stage the status store retains."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm, gw = sc._jvm, sc._gateway
    lst = store.stageList(jvm.java.util.ArrayList(), False, False,
                          gw.new_array(jvm.double, 0),
                          jvm.java.util.ArrayList())
    out = []
    for i in range(lst.size()):
        sd = lst.apply(i)
        out.append(((sd.stageId(), sd.attemptId()), sd))
    return out


def _stage_metrics_delta(spark, before_keys: set) -> dict:
    """Physical totals over the stages that ran since ``before_keys``.

    VERDICT r5 #2: wall-time medians drift ±50-90% run-to-run on a shared
    sandbox, so cross-round regressions need LOAD-INVARIANT signals.
    Shuffle bytes/records, input bytes and task counts are functions of
    the plan + data only; executor run/CPU time is load-sensitive but far
    steadier than wall time (no scheduler idle gaps).  Stage eviction is
    harmless: the diff keys on NEW stage ids, and stage ids only grow.
    Only COMPLETE stages count: a job's stages that never ran (a shuffle
    map stage whose output a prior job already wrote) stay in the store
    as SKIPPED, and which ones do can change from run to run.
    """
    tot = {"shuffle_write_bytes": 0, "shuffle_write_records": 0,
           "shuffle_read_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
           "executor_run_ms": 0, "executor_cpu_ms": 0, "n_tasks": 0,
           "n_stages": 0, "peak_task_memory": 0}
    for key, sd in _stage_keys(spark):
        if key in before_keys or sd.status().toString() != "COMPLETE":
            continue
        tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        tot["shuffle_write_records"] += sd.shuffleWriteRecords()
        tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
        tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        tot["input_bytes"] += sd.inputBytes()
        tot["executor_run_ms"] += sd.executorRunTime()
        tot["executor_cpu_ms"] += sd.executorCpuTime() // 1_000_000
        tot["n_tasks"] += sd.numCompleteTasks()
        tot["n_stages"] += 1
        tot["peak_task_memory"] = max(tot["peak_task_memory"],
                                      sd.peakExecutionMemory())
    return tot


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else 0.0

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", cpus)
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             # keep the stage key-diff cheap: old stages may evict freely
             # (the metrics delta only reads NEW stage ids)
             .config("spark.ui.retainedStages", "300")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    qs = entrymod.queries()

    # Warm the JVM / parquet footers with one cheap query.
    qs["scan_nodes"](spark, sf_dir).collect()

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    timings, spreads, minmax, metrics, protocols = {}, {}, {}, {}, {}
    for name in HEADLINE:
        # BASELINE.md §3: warm JVM, median of 5.  Run 0 is a discarded
        # warm-up (one-off codegen/JIT that a long-lived cluster job
        # amortizes to nothing); the median of the next `runs` is reported,
        # plus the relative spread so run-to-run noise is visible.
        # Iterative/persist-heavy graph queries get a second discarded
        # warm-up: their first post-JIT run still pays one-off shuffle
        # file + block-manager setup that showed up as r4's 88% spread.
        noisy = name in ("pagerank", "triangle_count", "k_core",
                         "node_similarity", "personalized_pagerank",
                         "events_sessions")
        warmups = 3 if noisy else 1
        q_runs = runs + 2 if noisy else runs
        protocols[name] = {"warmups": warmups, "samples": q_runs}
        # (round 11) the r5-era node_similarity co-purchase prepersist is
        # gone: the query has derived its graph from the DOCUMENT corpus
        # since the doc-shingle flagship landed, so the cached co-purchase
        # fragment was never read by any of its runs — the protocol tag
        # claimed a prepersisted graph that did not exist.  Removing dead
        # ballast cannot change what the runs compute; every run still
        # derives the doc-shingle graph inside the timed region.
        samples, n = [], 0
        for i in range(q_runs + warmups):
            last = i == q_runs + warmups - 1
            if last:
                before = {k for k, _ in _stage_keys(spark)}
            # label the run's jobs so UI/status-store dumps are readable
            # (guide §1.5); set before the timed region starts
            spark.sparkContext.setJobDescription(
                f"bench {name} run {i - warmups}" if i >= warmups
                else f"bench {name} warmup {i}")
            t0 = time.time()
            n = len(qs[name](spark, sf_dir).collect())
            dt = time.time() - t0
            spark.sparkContext.setJobDescription(None)
            if last:
                # physical totals of ONE warm run (deterministic given
                # plan + data — the cross-round regression signal)
                metrics[name] = _stage_metrics_delta(spark, before)
            if i >= warmups:
                samples.append(dt)
            # Drop the run's results NOW: lazy finalization would let
            # cached corpora from prior runs pile up and perturb later
            # timings (spread, not median, but keep the noise down).
            gc.collect()
        # stragglers (e.g. a checkpoint the ContextCleaner hasn't freed)
        # must not perturb the NEXT query's samples; the forced full GC
        # pays the collection debt of the freed blocks NOW instead of as a
        # major pause in the middle of the next query's first sample
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        samples.sort()
        med = samples[len(samples) // 2] if len(samples) % 2 else \
            (samples[len(samples) // 2 - 1] + samples[len(samples) // 2]) / 2
        timings[name] = round(med, 3)
        # Dispersion: interquartile range over the median — a single
        # GC-pause outlier in 5-7 samples dominated the old max-min
        # spread without saying anything about the median's stability.
        # The raw max-min stays visible as spread_minmax.
        iqr = samples[(3 * len(samples)) // 4] - samples[len(samples) // 4]
        spreads[name] = round(iqr / med, 3) if med else 0.0
        minmax[name] = round((samples[-1] - samples[0]) / med, 3) \
            if med else 0.0
        print(f"# {name}: median {timings[name]}s over {len(samples)} warm "
              f"runs (iqr spread {spreads[name]:.0%}, minmax "
              f"{minmax[name]:.0%}, {n} rows, "
              f"{metrics[name]['shuffle_write_bytes']} shuffle B, "
              f"{metrics[name]['executor_cpu_ms']} cpu ms)", file=sys.stderr)

    # --- sf1-scale spot run (VERDICT r4 #9) ------------------------------
    # No sf1 parquet ships with the container, so the heavy graph algos run
    # ONCE on a 10x replication of the sf0.1 co-purchase graph (10 shifted
    # id spaces — same volume an sf1 derivation would produce).  Single
    # run, not part of the headline: its job is to catch 100x-shape
    # regressions (a plan that quietly went quadratic) that sf0.1 hides.
    sf1_spot = {}
    if os.environ.get("SPARK_GRAFT_SF1_SPOT", "1") != "0":
        from pyspark.sql import functions as F

        from cypher_for_apache_flink_spark.functions.graph_algos import (
            k_core, k_truss, node2vec_walks, pagerank, random_walks,
            triangle_count)

        base = entrymod._copurchase_edges(spark, sf_dir) \
            .dropDuplicates(["src", "dst"])
        shift = (base.agg(F.max(F.greatest("src", "dst"))).collect()[0][0]
                 or 0) + 1
        big = base
        for i in range(1, 10):
            big = big.unionAll(base.select(
                (F.col("src") + i * shift).alias("src"),
                (F.col("dst") + i * shift).alias("dst")))
        big = big.repartition(int(cpus)).persist()
        n_edges = big.count()
        sf1_metrics = {}
        def _walks():
            starts = (big.select(F.col("src").alias("node"))
                      .dropDuplicates(["node"])
                      .orderBy(F.md5(F.col("node").cast("string")))
                      .limit(16))
            return random_walks(big, starts, length=8)

        def _n2v():
            starts = (big.select(F.col("src").alias("node"))
                      .dropDuplicates(["node"])
                      .orderBy(F.md5(F.col("node").cast("string")))
                      .limit(16))
            return node2vec_walks(big, starts, length=8, p=4, q="0.25")

        def _truss():
            # quarter-sample (like the headline query's half-sample):
            # the triangle enumeration is the cost driver and scales
            # superlinearly with density; one bounded round is the
            # 100x-shape check, convergence is the sf0.1 query's job
            import warnings as W
            q = big.where(
                F.md5(F.concat_ws("|", F.col("src"), F.col("dst"))) < "4")
            with W.catch_warnings():
                W.simplefilter("ignore")
                return k_truss(q, k=5, rounds=1)

        for qname, fn in [
                ("pagerank", lambda: pagerank(big, iterations=3)),
                ("k_core", lambda: k_core(big, k=4)),
                ("triangle_count", lambda: triangle_count(big)),
                ("random_walks", _walks),
                ("node2vec_walks", _n2v),
                ("k_truss_quarter", _truss)]:
            # VERDICT r7 #4: the sf1 wall numbers are not load-invariant
            # (r7's recorded triangle 45.2s reproduced at 33.8s under the
            # same config) — record the physical stage totals alongside,
            # like the headline loop does, so cross-round comparisons key
            # on shuffle bytes / cpu time instead of sandbox load.
            before = {k for k, _ in _stage_keys(spark)}
            t0 = time.time()
            fn().collect()
            sf1_spot[qname] = round(time.time() - t0, 3)
            sf1_metrics[qname] = _stage_metrics_delta(spark, before)
            print(f"# sf1_spot {qname}: {sf1_spot[qname]}s "
                  f"({n_edges} edges, "
                  f"{sf1_metrics[qname]['shuffle_write_bytes']} shuffle B, "
                  f"{sf1_metrics[qname]['executor_cpu_ms']} cpu ms)",
                  file=sys.stderr)
        sf1_spot["metrics"] = sf1_metrics
        big.unpersist()
        sf1_spot["n_edges"] = n_edges

        # --- dedup/ANN scale spot (VERDICT r5 #6) ------------------------
        # 10x the documents table with per-replica consonant rotation so
        # replicas share (almost) no shingles: volume grows 10x while the
        # near-dup pair structure stays ~10x the base corpus's, i.e. a
        # linear plan should show ~10x wall time, not 100x.
        import hashlib
        import shutil

        from cypher_for_apache_flink_spark.functions.dedup import (
            minhash_lsh_pairs, near_dup_against_index, write_minhash_index)

        docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id", "text"))
        dshift = (docs.agg(F.max("doc_id")).collect()[0][0] or 0) + 1
        alpha = "etaoinshrd"
        bigd = docs
        for i in range(1, 10):
            rot = alpha[i:] + alpha[:i]
            bigd = bigd.unionAll(docs.select(
                (F.col("doc_id") + i * dshift).alias("doc_id"),
                F.translate(F.col("text"), alpha, rot).alias("text")))
        bigd = bigd.repartition(int(cpus)).persist()
        n_docs = bigd.count()
        sf1_spot["n_docs"] = n_docs
        # discarded warmup: the FIRST bucketed saveAsTable pays one-off
        # warehouse/codegen setup that polluted the x1 sample (r7: x1
        # measured slower than x10); a tiny throwaway build+probe pays it
        # before anything is timed
        warm_tbl = "cfas_bench_mh_warm"
        write_minhash_index(docs.limit(200), warm_tbl)
        near_dup_against_index(spark, docs.limit(20), warm_tbl,
                               threshold=0.3).count()
        for tag, d in [("x1", docs), ("x10", bigd)]:
            t0 = time.time()
            minhash_lsh_pairs(d).count()
            sf1_spot[f"minhash_lsh_pairs_{tag}"] = round(time.time() - t0, 3)
            # build and probe timed SEPARATELY (VERDICT r6 #3): the index
            # build is two bucketed saveAsTable writes with a large fixed
            # cost, so only the probe alone can certify linear scaling
            tbl = f"cfas_bench_mh_{tag}"
            t0 = time.time()
            write_minhash_index(d, tbl)
            sf1_spot[f"near_dup_index_build_{tag}"] = \
                round(time.time() - t0, 3)
            t0 = time.time()
            near_dup_against_index(
                spark, d.where(F.col("doc_id") % 10 == 0), tbl,
                threshold=0.3).count()
            sf1_spot[f"near_dup_probe_{tag}"] = \
                round(time.time() - t0, 3)
            print(f"# sf1_spot minhash {tag}: "
                  f"{sf1_spot[f'minhash_lsh_pairs_{tag}']}s, index build "
                  f"{sf1_spot[f'near_dup_index_build_{tag}']}s, probe "
                  f"{sf1_spot[f'near_dup_probe_{tag}']}s",
                  file=sys.stderr)
        bigd.unpersist()

    # --- mid-scale heavy tier (round 12, VERDICT r11 #4) -----------------
    # sf0.1 walls for the iterative graph tier are fixed-overhead-bound
    # (4x cores bought 8% in the r11 driver run), so the heavies that the
    # sf1 spot does NOT cover run once on a 3x replication (~sf0.3): big
    # enough that data volume dominates driver latency, small enough to fit
    # the driver's bench budget at 8 cores.  One warm-free run each, noop
    # sink (guide §1.4), full stage metrics recorded.  Walls are exported
    # as NEW `queries` entries (`*_x3` — additions-only per the round
    # rules) so the driver's 8c/32c scaling table covers them; they are NOT
    # part of the headline total (its composition is unchanged since r11).
    mid_walls, mid_metrics = {}, {}
    if os.environ.get("SPARK_GRAFT_MIDSCALE", "1") != "0":
        from pyspark.sql import functions as F

        from cypher_for_apache_flink_spark.functions.graph_algos import (
            fastrp_embeddings, label_propagation, louvain)

        base = entrymod._copurchase_edges(spark, sf_dir) \
            .dropDuplicates(["src", "dst"])
        shift = (base.agg(F.max(F.greatest("src", "dst"))).collect()[0][0]
                 or 0) + 1
        mid = base
        for i in range(1, 3):
            mid = mid.unionAll(base.select(
                (F.col("src") + i * shift).alias("src"),
                (F.col("dst") + i * shift).alias("dst")))
        mid = mid.repartition(int(cpus)).persist()
        n_mid = mid.count()

        def _louvain_mid():
            # the entry's quarter-sample shape, on the 3x graph
            q = mid.where(
                F.md5(F.concat_ws("|", F.col("src"), F.col("dst"))) < "4")
            return louvain(q, rounds=16)

        for qname, fn in [
                ("louvain_communities_x3", _louvain_mid),
                ("label_propagation_x3",
                 lambda: label_propagation(mid, iterations=3)),
                ("fastrp_embeddings_x3",
                 lambda: fastrp_embeddings(mid, dims=8, iterations=3,
                                           weights=(1, 1, 2)))]:
            spark.sparkContext.setJobDescription(f"bench {qname}")
            before = {k for k, _ in _stage_keys(spark)}
            t0 = time.time()
            fn().write.format("noop").mode("overwrite").save()
            mid_walls[qname] = round(time.time() - t0, 3)
            mid_metrics[qname] = _stage_metrics_delta(spark, before)
            spark.sparkContext.setJobDescription(None)
            print(f"# midscale {qname}: {mid_walls[qname]}s "
                  f"({n_mid} edges, "
                  f"{mid_metrics[qname]['shuffle_write_bytes']} shuffle B, "
                  f"{mid_metrics[qname]['executor_cpu_ms']} cpu ms)",
                  file=sys.stderr)
            # NO clearCache here: `mid` must stay cached across the three
            # queries (each one's derivation would otherwise re-run inside
            # its timed region); the gc frees the query's own checkpoints
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        mid.unpersist()
        mid_metrics["n_edges"] = n_mid

    # --- plan-cache micro-bench (round 8, VERDICT r7 #6) -----------------
    # Replan latency vs cached-plan latency for one repeated dashboard
    # query: same session, same literals — planning (parse + plan +
    # Catalyst analysis) is skipped on every hit.  Timed WITHOUT execution
    # (.df construction only), because execution cost is identical.
    plan_cache = {}
    try:
        from cypher_for_apache_flink_spark import CypherSession
        from cypher_for_apache_flink_spark.sources.tpch import tpch_graph
        g = tpch_graph(spark, sf_dir)
        sess = CypherSession.for_graph(g)
        pq = ("MATCH (c:Customer)-[:FROM_NATION]->(n:Nation) "
              "WHERE c.c_acctbal > 1000.0 "
              "RETURN n.n_name AS nation, count(*) AS cnt")
        cold = []
        for _ in range(3):
            sess._plan_cache.clear()
            t0 = time.time()
            sess.cypher(pq).df
            cold.append(time.time() - t0)
        warm = []
        for _ in range(5):
            t0 = time.time()
            sess.cypher(pq).df
            warm.append(time.time() - t0)
        cold.sort()
        warm.sort()
        plan_cache = {"replan_s": round(cold[len(cold) // 2], 4),
                      "cached_s": round(warm[len(warm) // 2], 4),
                      "stats": dict(sess.plan_cache_stats)}
        print(f"# plan_cache: replan {plan_cache['replan_s']}s -> cached "
              f"{plan_cache['cached_s']}s", file=sys.stderr)
    except Exception as ex:                      # never sink the bench
        plan_cache = {"error": str(ex)[:200]}

    total = round(sum(timings.values()), 3)
    line_queries = dict(timings)
    line_queries.update(mid_walls)  # *_x3 additions; headline sum unchanged
    payload = {"metric": "headline_total", "value": total,
               "unit": "sec", "queries": line_queries, "sf": sf,
               "protocol": f"median_of_{runs}_warm_iqr_spread",
               "protocol_per_query": protocols,
               "spread": spreads, "spread_minmax": minmax,
               "metrics": metrics,
               "midscale_metrics": mid_metrics,
               "plan_cache": plan_cache,
               "sf1_spot": sf1_spot}
    # the driver keeps only a tail of stdout — r11's full-payload line
    # outgrew it and destroyed the round-over-round comparison (VERDICT r11
    # #2).  The machine-readable line is now MINIMAL (headline total +
    # per-query walls, a few KB) and printed LAST; the bulky stage metrics
    # / spot blocks live only in BENCH_LOCAL.json for tools/bench_diff.py.
    self_path = os.environ.get("SPARK_GRAFT_BENCH_SELF",
                               os.path.join(os.path.dirname(
                                   os.path.abspath(__file__)),
                                   "BENCH_LOCAL.json"))
    with open(self_path, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({"metric": "headline_total", "value": total,
                      "unit": "sec", "queries": line_queries, "sf": sf}))


if __name__ == "__main__":
    main()
