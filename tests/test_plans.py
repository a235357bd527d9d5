"""Physical-plan quality assertions — the 100 TB design checks.

These don't test values (the oracle gate does); they pin the plan shapes
that matter at scale: predicate pushdown reaching the parquet scan,
file-list pruning ahead of Spark, broadcast joins for small dimensions,
and map-side partial aggregation."""

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, spark_jobs


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_read_table_pushdown_and_pruning(spark, tmp_root):
    from kartothek_spark.core.manifest import DatasetManifest
    from kartothek_spark.dataset.read import dispatch_labels, read_table
    from kartothek_spark.dataset.write import store_dataframe_as_dataset

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    store_dataframe_as_dataset(spark, li, tmp_root, "li", partition_on=["l_returnflag"])

    # planner prunes files BEFORE Spark sees them
    m = DatasetManifest.load(tmp_root, "li")
    labels = dispatch_labels(spark, m, [[("l_returnflag", "==", "A")]])
    assert len(labels) < len(m.partitions)

    df = read_table(
        spark, tmp_root, "li",
        predicates=[[("l_returnflag", "==", "A"), ("l_quantity", ">", 25.0)]],
    )
    plan = _plan(df)
    # data predicate reaches the parquet scan (row-group pruning)
    pushed = plan.split("PushedFilters: [")[1].split("]")[0]
    assert "l_quantity" in pushed


def test_projection_prunes_read_schema(spark, tmp_root):
    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.dataset.write import store_dataframe_as_dataset

    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    store_dataframe_as_dataset(spark, orders, tmp_root, "o")
    df = read_table(spark, tmp_root, "o", columns=["o_orderkey", "o_totalprice"])
    plan = _plan(df)
    schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "o_orderkey" in schema and "o_totalprice" in schema
    assert "o_comment" not in schema  # wide column NOT read


def test_small_dim_join_broadcasts(spark):
    import __spark_entry__ as e

    df = e.q5_nation_revenue(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan  # nation/region never shuffle lineitem


def test_groupby_partial_aggregation(spark):
    import __spark_entry__ as e

    plan = _plan(e.q1_pricing_summary(spark, SF_DIR))
    # map-side combine: partial_ functions before the exchange
    assert "partial_" in plan and "Exchange hashpartitioning" in plan


def test_dedup_exact_shuffles_only_narrow_columns(spark):
    from kartothek_spark.operators.dedup import dedup_exact

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(dedup_exact(docs))
    # the shuffled aggregate carries only (fingerprint, id) — the text
    # payload joins back via broadcast, it is never exchanged
    ex = [seg for seg in plan.split("Exchange")[1:]]
    assert all("text" not in seg.split("\n")[0] for seg in ex)
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_bucket_prune_runs_no_spark_job(spark, tmp_root):
    """Point-lookup planning must not launch a Spark job: the pinned
    literal's hash bucket is computed driver-side (pure-Python XXH64
    bit-exact to the writer's xxhash64), and only that bucket's labels
    survive."""
    from kartothek_spark.core.manifest import DatasetManifest
    from kartothek_spark.dataset.read import dispatch_labels, read_table
    from kartothek_spark.dataset.write import BUCKET_COL, store_dataframe_as_dataset

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    store_dataframe_as_dataset(
        spark, li, tmp_root, "lb", bucket_by=["l_orderkey"], num_buckets=8
    )
    m = DatasetManifest.load(tmp_root, "lb")

    key = li.select("l_orderkey").first()[0]
    labels, jobs = spark_jobs(spark, lambda: dispatch_labels(spark, m, [[("l_orderkey", "==", key)]]))
    assert jobs == []
    assert 0 < len(labels) < len(m.partitions)
    assert len({seg for l in labels for seg in l.split("/") if seg.startswith(BUCKET_COL)}) == 1

    got = read_table(spark, tmp_root, "lb", predicates=[[("l_orderkey", "==", key)]])
    want = li.where(F.col("l_orderkey") == key)
    assert got.count() == want.count()


def test_lsh_topk_joins_on_bucket_key_no_cross_join(spark):
    """Multi-table LSH must join corpus to queries on the (table, bucket)
    key — never a cartesian/nested-loop product of corpus x queries."""
    from kartothek_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    q = emb.where(F.col("vec_id") < 5)
    plan = _plan(lsh_topk(emb, q, k=3, dim=64, planes=4, tables=4))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_dup_pairs_is_distributed(spark):
    """Block-matrix all-pairs: the corpus reaches the kernel through a
    group-by shuffle (FlatMapGroupsInPandas), never a driver collect or a
    nested-loop join."""
    from kartothek_spark.operators.similarity import embedding_dup_pairs

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    plan = _plan(embedding_dup_pairs(emb, threshold=0.9, blocks=4))
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dispatched_group_pushes_conjunction_to_scan(spark, tmp_root):
    """Each dispatched group's read must push its own [(col,==,val)]
    restriction into the scan: partition pruning shrinks the file list and
    content predicates reach PushedFilters."""
    from kartothek_spark.dataset.read import read_dataset_dispatched
    from kartothek_spark.dataset.write import store_dataframe_as_dataset

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    store_dataframe_as_dataset(spark, li, tmp_root, "ld", partition_on=["l_returnflag"])
    groups = list(
        read_dataset_dispatched(
            spark, tmp_root, "ld", ["l_returnflag"],
            predicates=[[("l_quantity", ">", 10.0)]],
        )
    )
    assert len(groups) == 3
    for values, conj, df in groups:
        plan = _plan(df)
        pushed = plan.split("PushedFilters: [")[1].split("]")[0]
        assert "l_quantity" in pushed  # content literal at the scan
        # partition pruning: only this group's directory is scanned
        files = df.inputFiles()
        assert files and all(f"l_returnflag={values['l_returnflag']}/" in f for f in files)


def test_tpch_semi_anti_shapes_stay_joins(spark):
    """q4/q16/q22's EXISTS / NOT IN / dormant shapes must plan as
    LeftSemi/LeftAnti joins — not collected id lists — so they stay
    distributed at any corpus size."""
    from kartothek_spark.queries import tpch

    assert "LeftSemi" in _plan(tpch.q4_order_priority(spark, SF_DIR))
    assert "LeftAnti" in _plan(tpch.q16_supplier_variety(spark, SF_DIR))
    assert "LeftAnti" in _plan(tpch.q22_dormant_customers(spark, SF_DIR))
    # q21 needs BOTH on the same relation
    p21 = _plan(tpch.q21_late_suppliers(spark, SF_DIR))
    assert "LeftSemi" in p21 and "LeftAnti" in p21


def test_tpch_q19_disjunction_reaches_scan(spark):
    """The disjunctive bracket over (brand, size) must be pushed to the
    part scan as an Or filter, and lineitem's scan must stay pruned to the
    columns the query needs."""
    from kartothek_spark.queries import tpch

    plan = _plan(tpch.q19_disjunctive_revenue(spark, SF_DIR))
    assert "Or(" in plan or " OR " in plan
    li_scan = [l for l in plan.splitlines() if "Scan parquet" in l and "l_partkey" in l]
    assert li_scan and "l_tax" not in li_scan[0]  # unneeded column not read


def test_tpch_q17_correlated_avg_is_partial_agged(spark):
    """The per-part average subquery must partial-aggregate map-side
    before its shuffle (sum/count are algebraic)."""
    from kartothek_spark.queries import tpch

    plan = _plan(tpch.q17_small_qty_revenue(spark, SF_DIR))
    assert "partial_sum" in plan and "partial_count" in plan


def test_corpus_sample_no_shuffle(spark):
    """Deterministic sampling is a stateless filter: the plan must contain
    no Exchange at all."""
    from kartothek_spark.operators.corpus import sample_corpus

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(sample_corpus(docs, 0.5))
    assert "Exchange" not in plan


def test_knn_join_no_cartesian_or_bnlj(spark):
    from kartothek_spark.operators.similarity import knn_join

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    plan = _plan(knn_join(emb.where("vec_id % 5 = 0"), emb, k=3, target_block_rows=64))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # block-matrix form: one grouped applyInPandas over the tagged union
    assert "FlatMapGroupsInPandas" in plan


def test_time_travel_read_keeps_pushdown_and_snapshot_pruning(spark, tmp_root):
    from kartothek_spark.core.manifest import DatasetManifest
    from kartothek_spark.dataset.read import dispatch_labels, read_table
    from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    store_dataframe_as_dataset(
        spark, li.where("l_returnflag = 'A'"), tmp_root, "li",
        partition_on=["l_returnflag"], keep_history=True,
    )
    update_dataset(spark, li.where("l_returnflag <> 'A'"), tmp_root, "li")
    # snapshot planner prunes against the v1 file set only
    m1 = DatasetManifest.load(tmp_root, "li", version=1)
    assert dispatch_labels(spark, m1, [[("l_returnflag", "==", "N")]]) == []
    df = read_table(spark, tmp_root, "li", as_of=1,
                    predicates=[[("l_quantity", ">", 30.0)]])
    pushed = _plan(df).split("PushedFilters: [")[1].split("]")[0]
    assert "l_quantity" in pushed


def test_read_changes_scans_only_new_files(spark, tmp_root):
    from kartothek_spark.dataset.read import read_changes
    from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset

    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    store_dataframe_as_dataset(
        spark, li.where("l_returnflag = 'A'"), tmp_root, "li",
        partition_on=["l_returnflag"], keep_history=True,
    )
    update_dataset(spark, li.where("l_returnflag = 'N'"), tmp_root, "li")
    files = read_changes(spark, tmp_root, "li", since=1).inputFiles()
    # the scan's file list contains ONLY the appended partition's files
    assert files and all("l_returnflag=N" in f for f in files)


def test_scrub_pii_no_shuffle(spark):
    from kartothek_spark.operators.text import scrub_pii

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(scrub_pii(docs))
    assert "Exchange" not in plan  # pure projection, linear at any scale


def test_diversity_sample_two_phase_shuffles(spark):
    from kartothek_spark.operators.similarity import diversity_sample

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    plan = _plan(diversity_sample(emb, quota=5, dim=64, planes=4))
    # two-phase rank: the FULL-data shuffle keys on (bucket, hash-shard)
    # so a mega-bucket spreads over shards; the second exchange re-keys
    # only the <= shards*quota survivors per bucket for the final rank
    assert plan.count("Exchange hashpartitioning") == 2
    assert "__shard" in plan


def test_ivfpq_no_cartesian_and_broadcast_rerank(spark):
    """IVF-PQ plan shape: the code stream is scored by mapInPandas (no
    N×Q cross-join), the shortlist re-rank joins the tiny query side as a
    broadcast, and nothing plans as a nested-loop join."""
    from kartothek_spark.operators.pq import ivfpq_topk

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    q = emb.where("vec_id < 3")
    plan = _plan(ivfpq_topk(emb, q, k=3, dim=64, n_centroids=4, nprobe=2, refine=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan  # encode + ADC score both stream
    assert "BroadcastHashJoin" in plan  # query side of the re-rank


def test_hidden_partition_read_keeps_pushdown(spark, tmp_root):
    """Transform widening happens at the manifest level only — the raw
    predicates must still reach the parquet scan as PushedFilters."""
    import datetime
    import re

    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.dataset.write import store_dataframe_as_dataset

    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).select(
        "user_id", "ts", "event_type", "value"
    )
    store_dataframe_as_dataset(
        spark, ev, tmp_root, "ev", partition_transforms=[("d", "day", "ts")]
    )
    df = read_table(
        spark, tmp_root, "ev",
        predicates=[[("ts", "<", datetime.datetime(2024, 1, 5)), ("value", ">", 0.5)]],
    )
    m = re.search(r"PushedFilters: \[([^\]]*)\]", _plan(df))
    assert m, "no PushedFilters in plan"
    assert "ts" in m.group(1) and "value" in m.group(1)


def test_bm25_no_corpus_broadcast_distributed_topk(spark):
    """BM25 at 100 TB: the per-document length rides through the tf
    aggregation (never a corpus-sized frame join, never a broadcast of
    one), the only BroadcastExchange is the query-vocabulary-sized df
    table, and the top-k is a distributed TakeOrderedAndProject — the
    rank window sees at most k rows."""
    from kartothek_spark.operators.search import bm25_search

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(bm25_search(docs, ["data", "model", "the"], k=10))
    assert plan.count("BroadcastExchange") <= 1  # dfreq only, never lens
    assert "TakeOrderedAndProject" in plan
    # the single-partition exchange feeding the rank window must sit
    # ABOVE the take (parents print first in the top-down plan string)
    if "Exchange SinglePartition" in plan:
        assert plan.index("Exchange SinglePartition") < plan.index(
            "TakeOrderedAndProject"
        )


def test_edit_distance_pairs_no_cartesian(spark):
    """Fuzzy pairing must be the block-key equi-join, never a quadratic
    join: no CartesianProduct/BNLJ anywhere in the plan."""
    from kartothek_spark.operators.dedup import edit_distance_pairs

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", F.expr("substring(text, 1, 24)").alias("key")
    )
    plan = _plan(
        edit_distance_pairs(
            docs, max_dist=2, string_col="key", id_col="doc_id", lifecycle="lazy"
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # verify stays JVM-side: the levenshtein filter is a Catalyst expression
    assert "levenshtein" in plan


def test_fuzzy_join_no_cartesian(spark):
    from kartothek_spark.operators.dedup import fuzzy_join

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", F.expr("substring(text, 1, 24)").alias("key")
    )
    probes = docs.where("doc_id % 7 = 0").select(
        F.col("doc_id").alias("probe_id"), F.col("key").alias("qkey")
    )
    plan = _plan(
        fuzzy_join(
            docs, probes, max_dist=2, left_on="key", right_on="qkey",
            left_id="doc_id", right_id="probe_id", lifecycle="lazy",
        )
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan


def test_text_index_search_pushes_term_filter(spark, tmp_root):
    """The indexed search's term restriction must reach the parquet scan
    (PushedFilters In(term, ...)) so the term-sorted postings files skip
    row groups — the second half of the pruning story (the first half,
    bucket-level dispatch, is pinned in test_operators)."""
    from kartothek_spark.operators.search_index import (
        build_text_index,
        search_text_index,
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    build_text_index(spark, docs, tmp_root, "tidx", buckets=4)
    plan = _plan(search_text_index(spark, tmp_root, "tidx", ["spark", "join"], k=5))
    assert "PushedFilters" in plan and "In(term" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_cross_pairs_plan_shape(spark):
    """Two-sided banding must join the rep sets on the (band, key) key —
    never a cartesian of the corpora — with the per-side bucket-cap
    windows partitioned on (band, key)."""
    from kartothek_spark.operators.dedup import minhash_cross_pairs

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    bench = docs.where("doc_id % 11 = 0").select(
        F.col("doc_id").alias("bench_id"), F.expr("substring(text, 12)").alias("text")
    )
    plan = _plan(
        minhash_cross_pairs(docs, bench, threshold=0.35, right_id="bench_id", lifecycle="lazy")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontaminate_anti_join_broadcasts(spark):
    """The decontaminate wrappers carry NO forced broadcast hint (a
    pathologically large hit list must degrade to a shuffle join, not
    OOM) — at normal contamination volume AQE must still broadcast the
    hit-id list into the left-anti join at runtime."""
    from kartothek_spark.operators.contamination import decontaminate

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    bench = docs.where("doc_id % 13 = 0")
    out = decontaminate(docs, bench, n=8)
    plan = _plan(out)
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti and all("BroadcastHashJoin" in ln for ln in anti), anti


def test_kmeans_assign_is_narrow(spark):
    from kartothek_spark.operators.clustering import with_cluster

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    seeds = [r["embedding"] for r in emb.where(F.col("vec_id") < 8).collect()]
    plan = _plan(with_cluster(emb, seeds))
    # pure expression over broadcast-literal centroids: no join, no
    # shuffle, no Python — linear at any corpus size
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_kmeans_train_partials_one_pass_map_side(spark):
    from kartothek_spark.operators.clustering import _train_partials

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    seeds = [r["embedding"] for r in emb.where(F.col("vec_id") < 8).collect()]
    partials = _train_partials(emb, seeds, "embedding")
    plan = _plan(partials)
    # one Arrow pass fuses assignment + per-cluster sums, emitting at most
    # k*(d+1) rows per partition; those partials are partially summed
    # again BEFORE the single exchange, so the shuffle never scales with
    # the corpus
    assert plan.count("Exchange hashpartitioning") == 1
    pre_exchange = plan.split("Exchange hashpartitioning")[-1]
    assert "partial_sum" in pre_exchange or "partial" in pre_exchange
    assert "MapInPandas" in plan or "ArrowEval" in plan or "Python" in plan


def test_cap_per_group_two_phase_shuffles(spark):
    from kartothek_spark.operators.corpus import cap_per_group

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(cap_per_group(docs, "source", 15, "n_chars"))
    # phase 1 windows over (group, id-hash shard) — the full-data shuffle
    # is on the balanced key; phase 2 re-keys only the survivors
    assert plan.count("Exchange hashpartitioning") == 2
    assert "__shard" in plan


def test_winnow_fingerprints_narrow(spark):
    from kartothek_spark.operators.dedup import winnow_fingerprints

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(winnow_fingerprints(docs, k=8, w=4))
    # selection happens inside one projection + generator — the ~1/w
    # selected set is the first thing that could ever leave the row. The
    # only exchange allowed is scale_out's ROUND-ROBIN fan-out of a
    # too-few-splits source (r11: the md5-per-gram kernel must not run on
    # one core because the scan arrived as one split); never a hash
    # shuffle, never a join.
    assert "Join" not in plan
    assert "Exchange hashpartitioning" not in plan
    # with enough input splits the fan-out disappears and the kernel is
    # fully narrow
    fanned = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    plan2 = _plan(winnow_fingerprints(fanned, k=8, w=4))
    assert "Join" not in plan2
    assert plan2.count("Exchange") == plan2.lower().count("roundrobinpartitioning")


def test_media_dedup_exact_combines_map_side(spark):
    from kartothek_spark.operators.multimodal import make_media_df, media_dedup_exact

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _plan(media_dedup_exact(make_media_df(docs, "doc_id", "text")))
    # digest groupBy, never a window: a viral duplicate is a combiner
    # group, not one task's sort
    assert "Window" not in plan
    pre_exchange = plan.split("Exchange hashpartitioning")[-1]
    assert "partial_min" in pre_exchange or "partial" in pre_exchange


def test_asof_nearest_single_exchange(spark):
    from kartothek_spark.operators.temporal import asof_join

    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    left = ev.where("event_type = 'purchase'").select("user_id", "ts", "event_id")
    right = (
        ev.where("event_type = 'view'")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    plan = _plan(asof_join(left, right, on="ts", by="user_id", direction="nearest"))
    # both traversal orders run over ONE partitioning of the union — no
    # second shuffle for the forward pass (the ts-keyed exchange below is
    # the right side's own pre-aggregation, not the join)
    import re

    keys = [m.group(1) for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan)]
    window_exchanges = [k for k in keys if "ts" not in k]
    assert len(window_exchanges) == 1, keys


def test_dsir_ratio_join_broadcasts_and_combines(spark):
    """DSIR score pass: the B-row log-ratio table must BROADCAST into the
    occurrence join (B is bounded by the bucket-count constant, never by
    data), and the per-doc sum must partially aggregate map-side — the
    raw corpus' only shuffle is O(docs)."""
    from kartothek_spark.operators.dsir import dsir_weights

    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .where("doc_id < 200")
        .select("doc_id", "text")
    )
    plan = _plan(dsir_weights(docs, docs.where("doc_id % 9 = 0"), buckets=256))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    agg_above_exchange = plan.split("Exchange hashpartitioning")[-1]
    assert "partial_sum" in agg_above_exchange or "partial" in agg_above_exchange


def test_indexed_decontaminate_anti_join_not_forced(spark, tmp_path):
    """fuzzy_decontaminate_indexed mirrors the on-the-fly stance: the
    returned anti-join carries NO forced broadcast hint (a pathological
    hit list must degrade to a shuffle join) — at normal volume AQE still
    broadcasts the pinned hit list at runtime."""
    from kartothek_spark.operators.contamination_index import (
        build_contamination_index,
        fuzzy_decontaminate_indexed,
    )

    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .where("doc_id < 200")
        .select("doc_id", "text")
    )
    bench = docs.where("doc_id % 11 = 0").select(
        F.col("doc_id").alias("bench_id"),
        F.expr("substring(text, 12)").alias("text"),
    )
    root = str(tmp_path / "cx")
    build_contamination_index(spark, bench, root, "cx", id_col="bench_id")
    out = fuzzy_decontaminate_indexed(spark, docs, root, "cx", threshold=0.35)
    # the hit list is a checkpointed RDD with no static size stats, so the
    # STATIC plan is a SortMergeJoin — the stance under test is that AQE
    # (not a forced hint) broadcasts it at runtime: inspect the final
    # adaptive plan after execution
    assert "LeftAnti" in _plan(out)
    out.collect()  # count() would plan a NEW query; AQE must finalize OUT's
    final = _plan(out).split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    anti = [ln for ln in final.splitlines() if "LeftAnti" in ln]
    assert anti and all("BroadcastHashJoin" in ln for ln in anti), anti


def test_winnow_index_probe_scan_prunes_buckets(spark, tmp_path):
    """search_winnow_index's small-probe path reads only the probes' fb
    buckets — the scan's file list (manifest pruning, decided before
    Spark sees files) must be a strict subset of the bucket dirs."""
    from kartothek_spark.operators.winnow_index import (
        build_winnow_index,
        search_winnow_index,
    )

    docs = (
        spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        .where("doc_id < 200")
        .select("doc_id", "text")
    )
    root = str(tmp_path / "wx")
    build_winnow_index(spark, docs, root, "wx", k=8, w=4, buckets=16)
    probe = docs.where("doc_id = 3").select(
        (F.col("doc_id") + 900000).alias("doc_id"),
        F.expr("substring(text, 1, 14)").alias("text"),
    )
    out = search_winnow_index(spark, root, "wx", probe, min_shared=1)
    buckets = {
        seg
        for f in out.inputFiles()
        if "/wx/" in f
        for seg in f.split("/")
        if seg.startswith("fb=")
    }
    assert buckets and len(buckets) < 16


def test_chunk_sentences_two_docid_exchanges(spark):
    """chunk_sentences promises exactly the cumsum window + reassembly
    groupBy on doc_id — no extra shuffles sneak in (the sentence split
    and token counts are narrow)."""
    from kartothek_spark.operators.corpus import chunk_sentences

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    plan = _plan(chunk_sentences(docs, budget_tokens=64))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges <= 2, plan[:2000]
    assert "CartesianProduct" not in plan


def test_c4_span_dedup_combines_and_no_cartesian(spark):
    """c4_span_dedup's span-hash groupBy must partially aggregate
    map-side (a viral span is a combiner group, never one task's sort),
    and the whole plan carries no cartesian/BNLJ."""
    from kartothek_spark.operators.corpus import c4_span_dedup

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    plan = _plan(c4_span_dedup(docs, n=3))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the dup-span count aggregates before its exchange
    pre = plan.split("Exchange hashpartitioning(h#", 1)
    assert len(pre) == 2
    assert "partial_count" in pre[1] or "partial" in pre[1]


def test_bloom_prefilter_is_pure_codegen(spark):
    """The Bloom prefilter (expression path) is ONE narrow scan: the
    inline bitmap literal probes via getbit/element_at inside codegen —
    no exchange, no join, no Python. This is the operator's 100 TB
    contract: clean documents never leave their input partition."""
    from kartothek_spark.operators.bloom import (
        DEFAULT_BLOOM_K,
        _bench_shingle_keys,
        _candidate_shingles,
        bloom_words,
        dense_words,
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    bench = docs.where("doc_id % 11 = 0")
    m = 1 << 16
    words = dense_words(
        bloom_words(_bench_shingle_keys(bench, 8, "text"), m).collect(), m
    )
    plan = _plan(
        _candidate_shingles(docs, words, m, DEFAULT_BLOOM_K, "text", "doc_id", 8)
    )
    # the only exchange allowed is scale_out's round-robin fan-out of a
    # too-few-splits source (r11, guide §2.6) — never a hash shuffle: clean
    # documents still never co-locate by key, and at real scale (inputs
    # with >= defaultParallelism splits) the fan-out disappears entirely
    assert plan.count("Exchange") == plan.lower().count("roundrobinpartitioning")
    assert "Join" not in plan
    for py in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert py not in plan
    # the shingle-hash expression must appear ONCE: the scalar-column
    # prefilter shape can't be project-collapsed into a duplicate (the
    # per-doc array-EXISTS form paid the md5 pass twice)
    assert plan.count("md5") <= plan.count("Generate") + 1


def test_bloom_words_build_combines_mapside(spark):
    """The bitmap build's bit_or groupBy must partially aggregate
    map-side: at most m/63 rows reach the exchange regardless of key
    count."""
    from kartothek_spark.operators.bloom import _bench_shingle_keys, bloom_words

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    plan = _plan(bloom_words(_bench_shingle_keys(docs, 8, "text"), 1 << 16))
    pre = plan.split("Exchange hashpartitioning(word_idx", 1)
    assert len(pre) == 2, plan[:2000]
    assert "partial_bit_or" in pre[1] or "partial" in pre[1]
    assert "CartesianProduct" not in plan


def test_bloom_verification_broadcasts_keys(spark):
    """Only candidate docs reach the exact verification join, and the
    benchmark key set ships broadcast — the corpus side never
    shuffles on content."""
    from kartothek_spark.operators.bloom import bloom_contamination_hits

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    bench = docs.where("doc_id % 11 = 0")
    plan = _plan(bloom_contamination_hits(docs, bench, n=8, m_bits=1 << 16))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_sketch_builds_combine_mapside(spark):
    """CMS and HLL builds must partially aggregate map-side: at most
    d·w cells / m registers reach the exchange regardless of corpus
    size — the mergeable-sketch scale contract."""
    from kartothek_spark.operators.sketch import cms_sketch, hll_registers

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text", "source"
    )
    for df, key in ((cms_sketch(docs), "row"), (hll_registers(docs), "bucket")):
        plan = _plan(df)
        pre = plan.split(f"Exchange hashpartitioning({key}", 1)
        assert len(pre) == 2, plan[:1500]
        assert "partial" in pre[1]
        assert "CartesianProduct" not in plan


def test_cms_estimate_broadcasts_sketch(spark):
    """The probe join ships the (≤ d·w cell) sketch broadcast — probe
    tokens never shuffle on (row, col)."""
    from kartothek_spark.functions.hashing import tokens as _toks
    from kartothek_spark.operators.sketch import cms_estimate, cms_sketch

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
        "doc_id", "text"
    )
    probe = docs.where("doc_id < 3").select(
        F.explode(_toks(F.col("text"))).alias("token")
    ).distinct()
    plan = _plan(cms_estimate(cms_sketch(docs), probe))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hard_negatives_plan_shape(spark):
    """Hard-negative mining: the corpus never sort-merge-joins — the
    positives exclusion is a broadcastable anti join, the sims kernel is
    one Arrow pass, and the only wide op is the per-query rank window."""
    from kartothek_spark.operators.similarity import hard_negatives

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    q = emb.where("vec_id < 8")
    pos = q.selectExpr("vec_id AS query_id", "vec_id + 1 AS pos_id")
    df = hard_negatives(emb, q, pos, k=5)
    df.collect()
    plan = _plan(df)
    assert "SortMergeJoin" not in plan
    assert "Cartesian" not in plan
    assert "MapInPandas" in plan  # the matmul sims kernel


def test_leakage_safe_split_plan_shape(spark):
    """Leakage-safe split: the split itself is a per-row hash (no
    shuffle before the contamination stage) and nothing goes cartesian;
    the test-side shingle set is the (broadcastable) build side."""
    from kartothek_spark.operators.pipeline import leakage_safe_split

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    df = leakage_safe_split(docs, {"train": 0.8, "test": 0.2})
    df.collect()
    plan = _plan(df)
    assert "Cartesian" not in plan
    for py in ("BatchEvalPython", "ArrowEvalPython"):
        assert py not in plan  # split + shingles are pure JVM expressions


def test_source_overlap_single_corpus_pass(spark):
    """source_overlap materializes the distinct (group, shingle) set
    once: the executed plan's three consumers read the checkpointed
    RDD, not three fresh corpus scans."""
    from kartothek_spark.operators.contamination import source_overlap

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    df = source_overlap(docs, n=8)
    df.collect()
    plan = _plan(df)
    assert plan.count("FileScan parquet") == 0  # all inputs are the checkpoint
    assert "Scan ExistingRDD" in plan
