"""Corpus-curation pipeline: each stage's removals are observable."""

from pyspark.sql import functions as F

from cypher_for_apache_flink_spark.functions.pipeline import curate_corpus


def test_curate_removes_each_category(spark):
    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (1, good + " one"),
        (2, good + " one"),              # exact dup of 1 -> dropped
        (3, good + " two"),              # near dup of 1 -> dropped (higher id)
        (4, "!!! ??? !!! ??? !!!"),      # punctuation garbage -> quality drop
        (5, "completely different text about spark catalyst optimizer plans "
            "and distributed shuffle execution strategies in modern engines"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r["doc_id"] for r in
                  curate_corpus(docs, quality_min=0.4,
                                jaccard_threshold=0.3).collect())
    assert kept == [1, 5]


def test_curate_keeps_all_distinct_quality_docs(spark):
    docs = spark.createDataFrame(
        [(i, f"document number {i} with plenty of reasonable english words "
             f"to pass the quality bar easily every single time variant {i*7}")
         for i in range(10)],
        "doc_id long, text string")
    kept = curate_corpus(docs, quality_min=0.4, jaccard_threshold=0.9)
    assert kept.count() == 10
    # survivors keep their original columns
    assert set(kept.columns) == {"doc_id", "text"}


def test_curate_transitive_stores_the_pairs_once(spark, monkeypatch):
    """The near-dup pairs are already a checkpoint; the transitive stage
    reads them into its edge list and never stores a bare projection of
    them a second time."""
    from cypher_for_apache_flink_spark.functions import layout
    inputs = []
    materialize = layout.materialize

    def spy(df, *args, **kwargs):
        plan = df._jdf.queryExecution().optimizedPlan()
        while plan.nodeName() == "Project":
            plan = plan.children().apply(0)
        inputs.append(plan.nodeName())
        return materialize(df, *args, **kwargs)

    monkeypatch.setattr(layout, "materialize", spy)
    good = "the quick brown fox jumps over the lazy dog and runs far away today"
    docs = spark.createDataFrame(
        [(1, good + " one"), (3, good + " two"), (4, good + " three"),
         (5, "completely different text about spark catalyst optimizer plans "
             "and distributed shuffle execution strategies in modern engines")],
        "doc_id long, text string")
    kept = curate_corpus(docs, jaccard_threshold=0.3, transitive=True)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 5]
    assert inputs and "LogicalRDD" not in inputs, inputs


def test_curate_transitive_removes_whole_cluster(spark):
    from cypher_for_apache_flink_spark.functions.pipeline import curate_corpus
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairwise = {r["doc_id"] for r in
                curate_corpus(docs).select("doc_id").collect()}
    transitive = {r["doc_id"] for r in
                  curate_corpus(docs, transitive=True)
                  .select("doc_id").collect()}
    # transitive policy can only remove more, never fewer
    assert transitive <= pairwise


# ---------------------------------------------------------------------------
# Persisted fingerprint index (incremental ingestion dedup)
# ---------------------------------------------------------------------------

def test_fingerprint_index_round_trip(spark, tmp_path):
    from pyspark.sql import functions as F

    from cypher_for_apache_flink_spark.functions.dedup import (
        dedup_against_index, write_fingerprint_index)
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "hello world")],
        "doc_id long, text string")
    path = str(tmp_path / "fpidx")
    write_fingerprint_index(corpus, path)
    batch = spark.createDataFrame(
        [(10, "Hello   World"),        # normalizes to an indexed fp -> drop
         (11, "entirely new text"),    # survives
         (12, "the quick brown fox")], # exact indexed dup -> drop
        "doc_id long, text string")
    out = dedup_against_index(spark, batch, path)
    assert {r.doc_id for r in out.collect()} == {11}
    # original columns come back untouched
    assert set(out.columns) == {"doc_id", "text"}


def test_fingerprint_index_prunes_partitions(spark, tmp_path):
    from cypher_for_apache_flink_spark.functions.dedup import (
        dedup_against_index, write_fingerprint_index)
    corpus = spark.createDataFrame(
        [(i, f"document number {i}") for i in range(50)],
        "doc_id long, text string")
    path = str(tmp_path / "fpidx")
    write_fingerprint_index(corpus, path)
    # DPP requirements: a file-sourced probe side (a LocalRelation batch
    # skips the rewrite) carrying a selective predicate (any real
    # ingestion filter qualifies; an unfiltered scan is not considered a
    # pruning source by Spark's PartitionPruning rule)
    bpath = str(tmp_path / "batch")
    spark.createDataFrame([(99, "document number 7")],
                          "doc_id long, text string").write.parquet(bpath)
    from pyspark.sql import functions as F
    batch = spark.read.parquet(bpath).where(F.col("doc_id") >= 99)
    out = dedup_against_index(spark, batch, path)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the index scan must carry a dynamic partition-pruning filter
    assert "dynamicpruning" in plan.lower()
    assert out.collect() == []


def test_fingerprint_index_append_ingestion_loop(spark, tmp_path):
    """The incremental-ingestion loop: dedup a batch against the index,
    append the survivors' fingerprints, and the NEXT batch dedups against
    the union — only touched bucket directories gain files."""
    import os

    from cypher_for_apache_flink_spark.functions.dedup import (
        append_to_fingerprint_index, dedup_against_index,
        write_fingerprint_index)
    corpus = spark.createDataFrame(
        [(1, "seed one"), (2, "seed two")], "doc_id long, text string")
    path = str(tmp_path / "fpidx")
    write_fingerprint_index(corpus, path)
    batch1 = spark.createDataFrame(
        [(10, "seed one"), (11, "novel alpha")], "doc_id long, text string")
    surv1 = dedup_against_index(spark, batch1, path)
    assert {r.doc_id for r in surv1.collect()} == {11}
    append_to_fingerprint_index(surv1, path)
    # batch 2 repeats batch 1's survivor -> dropped against the APPENDED fp
    batch2 = spark.createDataFrame(
        [(20, "novel alpha"), (21, "novel beta")], "doc_id long, text string")
    surv2 = dedup_against_index(spark, batch2, path)
    assert {r.doc_id for r in surv2.collect()} == {21}
    # the index stayed partitioned (bucket dirs, not a flat rewrite)
    assert any(d.startswith("__fp_bucket=") for d in os.listdir(path))


def test_minhash_index_near_dup_ingestion(spark, monkeypatch):
    """Persisted NEAR-dup index: batch docs that share LSH bands with the
    indexed corpus and verify at Jaccard >= threshold are dropped; the
    probe joins the bucketed index tables with NO Exchange on the index
    side (only the batch shuffles into the bucket layout)."""
    import shutil

    from pyspark.sql import functions as F

    from cypher_for_apache_flink_spark.functions import layout
    from cypher_for_apache_flink_spark.functions.dedup import (
        near_dup_against_index, write_minhash_index)
    # the probe's plan is the one the loser ids are materialized from
    probes = []
    materialize = layout.materialize

    def spy(df, *args, **kwargs):
        probes.append(df._jdf.queryExecution().executedPlan().toString())
        return materialize(df, *args, **kwargs)

    monkeypatch.setattr(layout, "materialize", spy)
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different reference text about spark engines")],
        "doc_id long, text string")
    try:
        write_minhash_index(corpus, "mh_idx", buckets=4)
        batch = spark.createDataFrame(
            [(10, "the quick brown fox jumps over the lazy dog today"),
             (11, "a totally novel document with fresh content words")],
            "doc_id long, text string")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = near_dup_against_index(spark, batch, "mh_idx",
                                         threshold=0.5)
            [plan] = probes
            assert {r.doc_id for r in out.collect()} == {11}
            # index-side scans are bucketed and read with no Exchange
            # directly above them
            assert plan.count("Bucketed: true") == 2, plan
            lines = plan.splitlines()
            for i, ln in enumerate(lines):
                if "Exchange hashpartitioning" in ln and i + 1 < len(lines):
                    assert "mh_idx" not in lines[i + 1], (ln, lines[i + 1])
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        for t in ("mh_idx_bands", "mh_idx_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree("/root/repo/spark-warehouse", ignore_errors=True)


def test_minhash_index_matches_inmemory_pairs(spark):
    """The persisted-index probe finds exactly the pairs the in-memory
    minhash_lsh_pairs finds between batch and corpus (same bands/hashes
    -> same candidates; same Jaccard verification)."""
    import shutil

    from pyspark.sql import functions as F

    from cypher_for_apache_flink_spark.functions.dedup import (
        minhash_lsh_pairs, near_dup_against_index, write_minhash_index)
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where(F.col("doc_id") < 60)
    batch = docs.where(F.col("doc_id") >= 60)
    try:
        write_minhash_index(corpus, "mh_idx2", buckets=4)
        got = near_dup_against_index(spark, batch, "mh_idx2",
                                     threshold=0.3)
        got_ids = {r.doc_id for r in got.select("doc_id").collect()}
        # in-memory truth: pairs over the whole set, batch doc matches a
        # corpus doc (pairs are a<b and corpus ids are all lower here)
        pairs = minhash_lsh_pairs(docs, threshold=0.3)
        dropped = {r.b for r in pairs.collect() if r.a < 60 and r.b >= 60}
        want_ids = {r.doc_id for r in batch.select("doc_id").collect()} \
            - dropped
        assert got_ids == want_ids
    finally:
        for t in ("mh_idx2_bands", "mh_idx2_docs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree("/root/repo/spark-warehouse", ignore_errors=True)
