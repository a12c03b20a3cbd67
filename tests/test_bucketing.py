"""Bucketed-layout contracts (SCALE.md §3-§4): co-bucketed tables join
without exchanges; the ANN probe over a bucketed embedding table prunes
to one bucket's files."""

import pytest
from pyspark.sql import functions as F

from text_sentiment_classification_hadoop_spark_spark.operators.dedup import minhash_signatures
from text_sentiment_classification_hadoop_spark_spark.plans.explain import plan_string
from text_sentiment_classification_hadoop_spark_spark.sources.layout import read_table, write_bucketed
from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table


@pytest.fixture(scope="module", autouse=True)
def no_broadcast(spark):
    """Force shuffle-join planning so the assertion is about bucketing,
    not about the small fixtures fitting a broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_cobucketed_join_has_no_exchange(spark, sf_dir):
    sigs = minhash_signatures(load_table(spark, "documents", sf_dir))
    write_bucketed(sigs, "sigs_a", "doc_id", 4, sort_col="doc_id")
    write_bucketed(sigs, "sigs_b", "doc_id", 4, sort_col="doc_id")
    joined = read_table(spark, "sigs_a").alias("a").join(
        read_table(spark, "sigs_b").alias("b"), "doc_id")
    plan = plan_string(joined)
    assert "Exchange" not in plan, plan
    assert joined.count() == sigs.count()


def test_unbucketed_same_join_needs_exchange(spark, sf_dir):
    """Control: the identical join over plain parquet DOES shuffle —
    proving the bucket metadata, not the data size, removed it."""
    sigs = minhash_signatures(load_table(spark, "documents", sf_dir))
    joined = sigs.alias("a").join(sigs.alias("b"), "doc_id")
    assert "Exchange" in plan_string(joined)


def test_bucketed_agg_skips_exchange(spark, sf_dir):
    """Aggregation keyed on the bucket column reads pre-partitioned
    data — no exchange before the final agg."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    write_bucketed(docs, "docs_bucketed", "doc_id", 4)
    agg = read_table(spark, "docs_bucketed").groupBy("doc_id") \
        .agg(F.count(F.lit(1)).alias("n"))
    assert "Exchange" not in plan_string(agg)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path_factory):
    from text_sentiment_classification_hadoop_spark_spark.sources.layout import write_partitioned
    e = load_table(spark, "events", sf_dir).withColumn(
        "day", F.to_date("ts"))
    path = str(tmp_path_factory.mktemp("part") / "events_by_day")
    write_partitioned(e, path, "day")
    back = spark.read.parquet(path)
    one_day = back.select("day").distinct().head()["day"]
    q = back.filter(F.col("day") == one_day)
    plan = plan_string(q)
    # the partition filter must reach the scan, not a post-scan Filter
    assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters", 1)[1][:200]
    assert q.count() == e.filter(F.col("day") == one_day).count()


def test_zorder_key_matches_python_reference(spark):
    """Interleaving correctness: the SQL Morton key equals a
    straightforward Python bit-interleave on planted values."""
    from text_sentiment_classification_hadoop_spark_spark.sources.layout import zorder_key_txt

    def morton(a, b, bits=8):
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    rows = [(a, b) for a in (0, 1, 5, 170, 255) for b in (0, 3, 128, 255)]
    df = spark.createDataFrame(rows, "a long, b long")
    got = df.selectExpr(
        "a", "b", zorder_key_txt(["a", "b"], bits=8) + " AS z").collect()
    for r in got:
        assert r["z"] == morton(r["a"], r["b"]), (r["a"], r["b"])


def test_zorder_key_int_columns_full_width(spark):
    """bits=16 over two INT columns shifts to bit 31 — without the
    builder's BIGINT cast that hits the INT sign bit (ANSI overflow or
    negative keys). Keys must be non-negative and match Python."""
    from text_sentiment_classification_hadoop_spark_spark.sources.layout import zorder_key_txt

    def morton16(a, b):
        out = 0
        for i in range(16):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    rows = [(65535, 65535), (65535, 0), (32768, 32768), (12345, 54321)]
    df = spark.createDataFrame(rows, "a int, b int")
    got = df.selectExpr(
        "a", "b", zorder_key_txt(["a", "b"], bits=16) + " AS z").collect()
    for r in got:
        assert r["z"] >= 0
        assert r["z"] == morton16(r["a"], r["b"]), (r["a"], r["b"])


def test_zorder_layout_bounds_both_dimensions(spark, sf_dir, tmp_path):
    """After write_zordered on (custkey, day), every output file must
    cover a narrow range of BOTH columns — the property single-column
    sorting cannot give (sorting by custkey leaves day spans at full
    width)."""
    import glob

    from text_sentiment_classification_hadoop_spark_spark.sources.layout import write_zordered
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table

    # uniform 0..255 dims (raw custkey only spans ~0..150 at tiny SF,
    # which leaves the top interleave bit degenerate): hash-spread is
    # exactly what a production z-order would do to a skewed domain
    o = load_table(spark, "orders", sf_dir).selectExpr(
        "o_orderkey", "pmod(hash(o_custkey), 256) AS ck",
        "pmod(hash(o_orderdate), 256) AS dy")
    path = str(tmp_path / "zorders")
    write_zordered(o, path, ["ck", "dy"], n_files=8, bits=8)

    spans = {"ck": [], "dy": []}
    glob_span = {c: None for c in spans}
    for c in spans:
        r = o.selectExpr(f"max({c}) - min({c}) AS s").collect()[0]
        glob_span[c] = r["s"]
    files = sorted(glob.glob(path + "/part-*.parquet"))
    assert len(files) >= 4
    for f in files:
        part = spark.read.parquet(f)
        for c in spans:
            r = part.selectExpr(f"max({c}) - min({c}) AS s").collect()[0]
            spans[c].append(r["s"])
    for c in spans:
        avg = sum(spans[c]) / len(spans[c])
        # each of 8 z-range files covers ~1/2-1/4 of each dimension;
        # 0.75 is a loose, non-flaky bound strictly below full width
        assert avg <= 0.75 * glob_span[c], (c, avg, glob_span[c], spans[c])


def test_write_training_shards_order_and_layout(spark, sf_dir, tmp_path):
    """Shard files carry rows in shuffle_key order and every (split,
    shard) lands whole; re-reading per file preserves write order."""
    import os

    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.curation import shuffle_split
    from text_sentiment_classification_hadoop_spark_spark.sources.layout import write_training_shards
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    man = shuffle_split(docs, n_shards=4).join(docs, "doc_id")
    out = str(tmp_path / "shards")
    write_training_shards(man, out, n_shards=4)
    for split in ("train", "val", "test"):
        d = os.path.join(out, f"split={split}")
        shard_dirs = [s for s in os.listdir(d) if s.startswith("shard=")]
        assert shard_dirs
        for sd in shard_dirs:
            full = os.path.join(d, sd)
            files = [f for f in os.listdir(full) if f.endswith(".parquet")]
            assert len(files) == 1               # one file per (split, shard)
            keys = [r["shuffle_key"]
                    for r in spark.read.parquet(os.path.join(full, files[0]))
                    .select("shuffle_key").collect()]
            assert keys == sorted(keys)          # shuffled order persisted
    # completeness: nothing lost or duplicated
    total = spark.read.parquet(out).count()
    assert total == docs.count()


def test_ann_bucket_pruning_on_bucketed_index(spark, sf_dir):
    """SCALE.md's ANN claim, proven at the plan level: the sign-LSH
    banded embedding index persisted BUCKETED BY bucket lets a
    single-bucket probe scan 1 of N buckets (SelectedBucketsCount) —
    the probe cost is index/N, independent of corpus size."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import sign_lsh_bucket
    from text_sentiment_classification_hadoop_spark_spark.sources.layout import read_table, write_bucketed
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    indexed = emb.select("vec_id", "embedding",
                         sign_lsh_bucket("embedding", n_planes=8)
                         .alias("bucket"))
    write_bucketed(indexed, "t_ann_bucketed", "bucket", 8)
    probe_bucket = read_table(spark, "t_ann_bucketed") \
        .select("bucket").head()["bucket"]
    # autoBucketedScan rewrites a bucketed scan to a plain one when no
    # join/agg consumes the distribution — which also forfeits bucket
    # PRUNING; disable it so the filter-only probe keeps the bucketed
    # scan (at scale the probe join would keep it anyway)
    old = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    try:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        probed = read_table(spark, "t_ann_bucketed") \
            .filter(F.col("bucket") == int(probe_bucket))
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
        assert probed.count() > 0
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", old)
        spark.sql("DROP TABLE IF EXISTS t_ann_bucketed")


def test_orders_merge_upsert_invariants(spark, sf_dir):
    """MERGE semantics: delete wins over update on a colliding key,
    inserts land in the disjoint key space, updates shift price by
    exactly +100.00, and keep-rows are untouched."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.relational import orders_merge_upsert
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    m = orders_merge_upsert(spark, sf_dir)
    rows = m.collect()
    base = {r["o_orderkey"]: r["o_totalprice"]
            for r in load_table(spark, "orders", sf_dir)
            .select("o_orderkey", "o_totalprice").collect()}
    acts = {}
    for r in rows:
        acts[r["o_orderkey"]] = (r["action"], r["o_totalprice"])
    for k, price in base.items():
        act, p = acts[k]
        if k % 13 == 5:
            assert act == "delete"           # delete precedence
        elif k % 7 == 0:
            assert act == "update" and abs(p - (price + 100.0)) < 1e-9
        else:
            assert act == "keep" and p == price
        if k % 11 == 2:
            assert acts[k + 1_000_000_000_000] == ("insert", price)
    # no unexplained rows
    explained = len(base) + sum(1 for k in base if k % 11 == 2)
    assert len(rows) == explained


def test_dynamic_partition_pruning_engages(spark, sf_dir, tmp_path):
    """100 TB layout contract: a fact table partitioned by day, joined
    to a FILTERED dimension, must scan only the partitions the dim
    survivors select — Spark's dynamic partition pruning
    (`dynamicpruning#N` in PartitionFilters), the runtime analog of
    the static PartitionFilters test above. Row counts double-check
    the prune is semantic, not cosmetic."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.sources.layout import write_partitioned
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    e = load_table(spark, "events", sf_dir).withColumn("day", F.to_date("ts"))
    path = str(tmp_path / "ev_by_day")
    write_partitioned(e, path, "day")
    fact = spark.read.parquet(path)
    days = [r["day"] for r in
            fact.select("day").distinct().orderBy("day").limit(5).collect()]
    dim = spark.createDataFrame(
        [(d, 1 if i < 2 else 0) for i, d in enumerate(days)],
        "day date, keep int")
    j = (fact.join(F.broadcast(dim.filter(F.col("keep") == 1)), "day")
         .groupBy("day").agg(F.count(F.lit(1)).alias("n")))
    rows = j.collect()
    plan = j._sc._jvm.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "formatted")
    assert "dynamicpruning#" in plan.lower(), plan
    want = {(r["day"], r["n"]) for r in
            e.filter(F.col("day").isin(days[:2]))
            .groupBy("day").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert {(r["day"], r["n"]) for r in rows} == want


def test_read_evolved_merges_schemas(spark, tmp_path):
    """Generation 1 lacks the column generation 2 added: the merged
    read exposes the union schema with NULLs for the old files, and
    per-generation rows survive intact."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.sources.layout import read_evolved
    g1 = str(tmp_path / "g1")
    g2 = str(tmp_path / "g2")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string") \
        .write.parquet(g1)
    spark.createDataFrame([(3, "c", 0.5)], "id long, v string, score double") \
        .write.parquet(g2)
    df = read_evolved(spark, g1, g2)
    assert set(df.columns) == {"id", "v", "score"}
    rows = {r["id"]: (r["v"], r["score"]) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 0.5)}
    assert df.filter(F.col("score").isNull()).count() == 2


def test_compact_files_identity_and_count(spark, tmp_path, sf_dir):
    """Compaction must be content-identical and reduce the file count
    to the computed target."""
    from text_sentiment_classification_hadoop_spark_spark.sources.layout import compact_files
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    src = str(tmp_path / "many")
    # fragment events into many small files (the streaming-sink shape)
    load_table(spark, "events", sf_dir).repartition(40).write.parquet(src)
    import os
    n_src = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_src >= 40
    dst = str(tmp_path / "compact")
    n_out = compact_files(spark, src, dst, target_file_bytes=1 << 30)
    assert n_out == 1
    a = spark.read.parquet(src).orderBy("event_id").collect()
    b = spark.read.parquet(dst).orderBy("event_id").collect()
    assert a == b


def test_ivf_bucketed_layout_prunes_probe_scan(spark, sf_dir):
    """The ANN-at-scale loop, closed: the IVF-assigned table written
    BUCKETED BY cell means a probe (filter on the query's cells) scans
    only the matching buckets — `SelectedBucketsCount: m out of N` with
    m < N in the scan node — instead of the whole index. This is the
    'persist the layout, probes become pruned scans' claim SCALE.md §4
    makes, asserted on a real plan."""
    from pyspark.sql import functions as F

    from text_sentiment_classification_hadoop_spark_spark.operators.similarity import ivf_assign_cells
    from text_sentiment_classification_hadoop_spark_spark.sources.layout import read_table, write_bucketed
    from text_sentiment_classification_hadoop_spark_spark.sources.tables import load_table
    emb = load_table(spark, "embeddings", sf_dir)
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cell_vec"))
    assigned = ivf_assign_cells(emb, cents)
    write_bucketed(assigned, "ivf_index_test", "cell", 8)
    # autoBucketedScan drops the bucketed layout when no join/agg wants
    # its distribution — which also forfeits bucket PRUNING; a probe
    # workload turns it off so the filter can select buckets
    key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        idx = read_table(spark, "ivf_index_test")
        probe = idx.filter(F.col("cell").isin(3, 5))
        plan = probe._sc._jvm.PythonSQLUtils.explainString(
            probe._jdf.queryExecution(), "formatted")
        import re
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m, plan
        assert int(m.group(1)) < int(m.group(2)) and int(m.group(1)) <= 2
        # semantic check: pruned scan returns exactly the filtered rows
        want = assigned.filter(F.col("cell").isin(3, 5)).count()
        assert probe.count() == want and want > 0
    finally:
        spark.conf.set(key, old)
