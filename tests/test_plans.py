"""Physical-plan regression tests: the scale properties PLANS.md
documents (html never shuffled, broadcast dims, predicate pushdown,
column pruning, no nested-loop joins) asserted by pytest so a refactor
cannot silently regress the 100-TB plan shape."""

import re

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _count(plan: str, token: str) -> int:
    return plan.count(token)


def test_retention_derive_never_shuffles_html(spark, pages_small):
    """The first job of run_retention derives the finest tier from raw
    pages: html is reduced to its length in a projection below the
    exchange, so only (url, bucket, nbytes) partials ever move."""
    from sprintz_spark.operators import rollup as R

    plan = _plan(R.derive_series(pages_small, "1m"))
    lines = plan.splitlines()
    exchange = next(
        i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l
    )
    assert "html" not in lines[exchange]
    assert any("length(html" in l for l in lines[exchange + 1:])


def test_rollup_has_mapside_partial_aggregation(spark):
    from sprintz_spark import queries as Q

    plan = _plan(Q.queries()["rollup_1m"](spark, SF))
    # partial HashAggregate below the exchange, final above: two
    # HashAggregate spans around exactly one exchange
    assert _count(plan, "Exchange hashpartitioning") == 1
    assert _count(plan, "HashAggregate") >= 2
    # column pruning: events has 6 columns, the scan reads 3
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 3


def test_pricing_summary_pushdown_and_pruning(spark):
    from sprintz_spark import queries as Q

    plan = _formatted(Q.queries()["pricing_summary"](spark, SF))
    assert re.search(r"PushedFilters: \[IsNotNull\(l_shipdate\), LessThanOrEqual\(l_shipdate", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = m.group(1).split(",")
    assert len(cols) <= 5  # 5 of 11 lineitem columns


def test_tpch_joins_broadcast_no_nested_loop(spark):
    from sprintz_spark import queries as Q

    for name in ("shipping_priority", "local_supplier_volume"):
        plan = _plan(Q.queries()[name](spark, SF))
        assert "BroadcastHashJoin" in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_decode_adds_no_shuffle_over_encode(spark):
    from sprintz_spark.operators.encode import decode_series, encode_series

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", F.col("ts").alias("bucket"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    enc = encode_series(ev, key_cols=["user_id"], value_cols=["cents"])
    dec = decode_series(enc, key_cols=["user_id"], value_cols=["cents"])
    # decode is mapInArrow on top of the encode stage: same single shuffle
    assert _count(_plan(enc), "Exchange hashpartitioning") == 1
    assert _count(_plan(dec), "Exchange hashpartitioning") == 1


def test_encode_operators_are_arrow_udfs(spark):
    """The per-series and container operators cross the Python boundary
    as Arrow UDFs only: each plan holds its FlatMapGroupsInArrow /
    MapInArrow node and no pandas UDF node."""
    from sprintz_spark.operators import encode as E

    ev = spark.read.parquet(f"{SF}/events.parquet").select(
        "user_id", F.col("ts").alias("bucket"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    k, v = ["user_id"], ["cents"]
    enc = E.encode_series(ev, key_cols=k, value_cols=v)
    cont = E.encode_series_container(ev, key_cols=k, value_cols=v)
    plans = {
        "encode_series": (enc, "FlatMapGroupsInArrow"),
        "decode_series": (E.decode_series(enc, key_cols=k, value_cols=v), "MapInArrow"),
        "query_encoded": (E.query_encoded(enc, "cents", key_cols=k), "MapInArrow"),
        "encode_series_container": (cont, "FlatMapGroupsInArrow"),
        "decode_series_container": (
            E.decode_series_container(cont, key_cols=k, value_cols=v), "MapInArrow"
        ),
        "query_encoded_container": (
            E.query_encoded_container(cont, "cents", key_col="user_id"), "MapInArrow"
        ),
    }
    for name, (df, node) in plans.items():
        plan = _plan(df)
        assert re.search(rf"\b{node}\b", plan), name
        assert "InPandas" not in plan, name


def test_range_join_is_hash_join(spark):
    from sprintz_spark import queries as Q

    plan = _plan(Q.queries()["range_join_concurrency"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ann_topk_broadcasts_query_vector(spark):
    from sprintz_spark import queries as Q

    plan = _plan(Q.queries()["ann_topk"](spark, SF))
    # the 1-row query side is broadcast; the corpus never shuffles for it
    assert "Broadcast" in plan
    # global top-k must compile to TakeOrderedAndProject (per-partition
    # partial top-10 + tiny final merge), never a single-partition sort
    assert "TakeOrderedAndProject" in plan
    assert _count(plan, "Exchange hashpartitioning") == 0


def test_topk_heavy_users_is_take_ordered(spark):
    """Round-4 verdict item 1: the global user-ranking must compile to
    TakeOrderedAndProject (per-partition partial top-10 + tiny merge).
    The only Window in the plan runs AFTER the limit, over 10 rows, so
    there must be no Exchange SinglePartition anywhere."""
    from sprintz_spark import queries as Q

    plan = _plan(Q.queries()["topk_heavy_users"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan
    # rnk comes from a broadcast self-join over the 10 survivors, so the
    # plan is entirely window-free (no WindowExec warning in bench logs)
    assert "Window" not in plan


def test_knn_partial_topk_via_window_group_limit(spark):
    """Pin the WindowGroupLimit dependency (round-3 verdict item 10): the
    per-(query, partition) partial top-k that knn_bruteforce's docstring
    promises exists only because Spark's InferWindowGroupLimit rewrites
    the row_number() <= k filter. Assert the Partial stage is in the
    executed plan so a runtime downgrade cannot silently reintroduce the
    full shuffle of every (query, corpus-row) pair."""
    from sprintz_spark import queries as Q
    from sprintz_spark.operators.similarity import knn_bruteforce

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qdf = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    plan = _plan(knn_bruteforce(emb, qdf, k=10))
    assert "WindowGroupLimit" in plan and "Partial" in plan
    # the recall-gated ivf_topk query composes knn + the IVF probe; both
    # of its rank filters must keep the rewrite too
    plan2 = _plan(Q.queries()["ivf_topk"](spark, SF))
    assert plan2.count("WindowGroupLimit") >= 2 and "Partial" in plan2


def test_grouped_topk_and_stratified_sample_use_window_group_limit(spark):
    """Round-5 additions: both grouped top-k shapes must keep Spark's
    InferWindowGroupLimit rewrite (partial per-partition top-k below the
    shuffle) — without it every (group, row) pair crosses the exchange."""
    from sprintz_spark import queries as Q

    for name in ("top_docs_per_lang", "stratified_sample"):
        plan = _plan(Q.queries()[name](spark, SF))
        assert "WindowGroupLimit" in plan and "Partial" in plan, name
        assert "Exchange SinglePartition" not in plan, name


def test_winnow_fingerprints_is_jvm_only(spark):
    """The winnowing pipeline is pure Spark SQL higher-order functions —
    no Python evaluation node may appear in the plan."""
    from sprintz_spark import queries as Q

    plan = _plan(Q.queries()["winnow_fingerprints"](spark, SF))
    assert "Python" not in plan and "FlatMap" not in plan
    # the only exchange is the explicit repartition spreading the
    # single-file docs scan across cores before the md5-gram stage;
    # the transform itself stays narrow (no aggregation shuffle)
    assert _count(plan, "Exchange") <= 1
    assert "Exchange SinglePartition" not in plan


def test_large_orders_aggregates_before_join(spark):
    """Q18 shape (round-7): the HAVING aggregate must sit BELOW the
    joins (lineitem reduces to qualifying orderkeys before any join) and
    the customer dim must broadcast; top-100 via TakeOrderedAndProject,
    not a global sort."""
    from sprintz_spark.queries import queries

    plan = _plan(queries()["large_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # positional check: the sum_qty > 300 Filter must sit BELOW every
    # join (children print after parents in the plan tree) and directly
    # on the HashAggregate that computes it — i.e. lineitem reduces to
    # qualifying orderkeys before anything joins
    lines = plan.splitlines()
    join_idx = [i for i, l in enumerate(lines) if "BroadcastHashJoin" in l]
    filt_idx = [
        i for i, l in enumerate(lines)
        if "Filter" in l and "sum_qty" in l and "> 300" in l
    ]
    assert filt_idx, "sum_qty > 300 filter missing from the executed plan"
    assert filt_idx[0] > max(join_idx), "HAVING filter must be below the joins"
    below = "\n".join(lines[filt_idx[0] + 1 : filt_idx[0] + 3])
    assert "HashAggregate" in below, "filter must sit directly on the aggregate"


def test_priority_fulfilment_is_semi_join(spark):
    """Q4 shape (round-7): EXISTS compiles to a LeftSemi join on the
    equi key (shipdate residual), never a nested loop; one row per
    order reaches the aggregate regardless of line count."""
    from sprintz_spark.queries import queries

    plan = _plan(queries()["priority_fulfilment"](spark, SF))
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivfpq_scan_is_broadcast_cell_join(spark):
    """Round-8: the IVF-PQ candidate scan must be an equi-join on cell
    with the tiny probe side broadcast — never a nested loop or a
    corpus-side shuffle for the probe join."""
    import numpy as np

    from sprintz_spark.operators.similarity import ivfpq_index, ivfpq_topk, ivfpq_train

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3).selectExpr(
        "vec_id as q_id", "embedding as q_vec"
    )
    cents, books = ivfpq_train(emb, k_coarse=4, m=8, ksub=16, sample=256)
    plan = _plan(ivfpq_topk(ivfpq_index(emb, cents, books), q, cents, books, k=5, nprobe=2))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tier_query_pushdown_never_decodes(spark, pages_small, tmp_path):
    """Round-8: query_tier over a container store must compile to scan ->
    mapInArrow partials -> ONE hash aggregation; no join, no window, no
    decode stage (decode_series_container would add an explode/posexplode
    projection)."""
    from sprintz_spark.plans import retention as RT

    out = str(tmp_path / "store")
    RT.run_retention(pages_small, out, snapshot_id="s1", n_buckets=2)
    df = RT.query_tier(spark, out, "s1", "1h", "byte_size_sum")
    plan = _plan(df)
    assert _count(plan, "Exchange hashpartitioning") == 1  # the final agg only
    assert "Join" not in plan and "Window" not in plan
    assert "Generate" not in plan  # no explode: partials come from headers
