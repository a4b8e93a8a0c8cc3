"""Property-based correctness: the CDC diff is definitionally correct
iff replaying its events over v1 reconstructs v2 exactly — for ANY
pair of keyed tables, including nulls, duplicated values, and
disjoint key sets (SURVEY.md §5 golden semantics).
"""

from __future__ import annotations

import os
import tempfile

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st_
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from cdc_pipe_line_spark.cdc.diff import snapshot_diff

SCHEMA = StructType(
    [
        StructField("k", IntegerType(), True),
        StructField("a", StringType(), True),
        StructField("b", IntegerType(), True),
    ]
)

row = st_.tuples(
    st_.integers(min_value=0, max_value=9),
    st_.one_of(st_.none(), st_.sampled_from(["x", "y", ""])),
    st_.one_of(st_.none(), st_.integers(min_value=-2, max_value=2)),
)


def _dedup_keys(rows):
    seen, out = set(), []
    for r in rows:
        if r[0] not in seen:
            seen.add(r[0])
            out.append(r)
    return out


tables = st_.lists(row, max_size=8).map(_dedup_keys)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(v1=tables, v2=tables)
@pytest.mark.slow
def test_diff_reconstructs_v2(spark, v1, v2):
    df1 = spark.createDataFrame(v1, SCHEMA)
    df2 = spark.createDataFrame(v2, SCHEMA)
    diff = snapshot_diff(df2, df1, "k").collect()

    state = {str(r[0]): (r[1], r[2]) for r in v1}
    for ev in diff:
        if ev.event_type == "delete":
            assert ev.key_value in state
            del state[ev.key_value]
        else:
            if ev.event_type == "update":
                assert ev.key_value in state
                assert ev.changed_cols, "update event with no changed columns"
            else:
                assert ev.key_value not in state
            nv = ev.new_values
            state[ev.key_value] = (
                nv.get("a"),
                None if nv.get("b") is None else int(nv["b"]),
            )
    want = {str(r[0]): (r[1], r[2]) for r in v2}
    assert state == want


events_strategy = st_.lists(
    st_.tuples(
        st_.integers(min_value=0, max_value=4),  # key
        st_.integers(min_value=0, max_value=30),  # ts offset (days)
        st_.sampled_from(["insert", "update", "delete"]),
    ),
    min_size=1,
    max_size=12,
).map(lambda evs: [(k, t, typ) for k, t, typ in {(k, t): (k, t, typ) for k, t, typ in evs}.values()])


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=events_strategy)
@pytest.mark.slow
def test_scd2_apply_invariants_random_batches(spark, evs):
    """For ANY batch of events (multiple per key, any type mix):
    at most one current row per key; every non-current row is closed;
    the current payload is the key's LAST insert/update unless a later
    delete closed it; validity intervals chain without overlap."""
    from pyspark.sql import functions as F

    from cdc_pipe_line_spark.cdc.scd2 import apply_scd2

    rows = [
        (
            f"e{i}",
            typ,
            str(k),
            f"2024-01-{1 + t:02d} 00:00:00",
            {"v": f"{k}.{t}"} if typ != "delete" else None,
        )
        for i, (k, t, typ) in enumerate(evs)
    ]
    ev = spark.createDataFrame(
        rows, "event_id string, event_type string, key_value string, timestamp string, new_values map<string,string>"
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    hist = apply_scd2(None, ev).collect()

    by_key: dict[str, list] = {}
    for r in hist:
        by_key.setdefault(r.key_value, []).append(r)
    # expected: order events per key by ts; last insert/update wins
    # unless a later delete exists
    per_key: dict[str, list] = {}
    for k, t, typ in evs:
        per_key.setdefault(str(k), []).append((t, typ))
    for k, seq in per_key.items():
        seq.sort()
        versions = [s for s in seq if s[1] != "delete"]
        got = by_key.get(k, [])
        assert len(got) == len(versions), (k, seq, got)
        current = [r for r in got if r.is_current]
        last_t, last_typ = seq[-1]
        if last_typ == "delete" or not versions:
            assert current == []
        else:
            assert len(current) == 1
            assert current[0].data["v"] == f"{k}.{last_t}"
        closed = [r for r in got if not r.is_current]
        assert all(r.valid_to is not None for r in closed)
        # intervals chain: sort by valid_from; each valid_to <= next valid_from
        got_sorted = sorted(got, key=lambda r: r.valid_from)
        for a, b in zip(got_sorted, got_sorted[1:]):
            assert a.valid_to is not None and a.valid_to <= b.valid_from


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=events_strategy, split=st_.integers(min_value=0, max_value=12))
@pytest.mark.slow
def test_delta_merge_equals_batch_path_random(spark, evs, split):
    """For ANY event sequence split into two batches — multiple events
    per key, any insert/update/delete mix, out-of-order timestamps
    across batches, plus a deliberately replayed batch-1 event — the
    Delta MERGE recipe (delta_merge.py, executed on a native Delta
    table) produces a history row-identical to the tested batch path."""
    from cdc_pipe_line_spark.cdc.scd2 import apply_scd2
    from cdc_pipe_line_spark.delta_merge import build_scd2_merge, scd2_merge_source
    from tests.test_delta_merge import _rows, native_table

    split = min(split, len(evs))
    b1, b2 = evs[:split], evs[split:]

    def mk(batch, prefix):
        rows = [
            (
                f"{prefix}{i}",
                typ,
                str(k),
                f"2024-01-{1 + t:02d} 00:00:00",
                {"v": f"{k}.{t}"} if typ != "delete" else None,
            )
            for i, (k, t, typ) in enumerate(batch)
        ]
        return spark.createDataFrame(
            rows,
            "event_id string, event_type string, key_value string, "
            "timestamp string, new_values map<string,string>",
        ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))

    ev1 = mk(b1, "a")
    # replay one batch-1 event inside batch 2 (id collision on purpose)
    replayed = mk(b1[:1], "a") if b1 else mk([], "a")
    ev2 = mk(b2, "b").unionByName(replayed)

    h1 = apply_scd2(None, ev1).localCheckpoint()
    ref = apply_scd2(h1, ev2)
    with tempfile.TemporaryDirectory() as d:
        table = native_table(spark, h1, os.path.join(d, "t"))
        build_scd2_merge(table, scd2_merge_source(h1, ev2))
        assert _rows(table.toDF()) == _rows(ref)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(evs=events_strategy, split=st_.integers(min_value=0, max_value=12))
@pytest.mark.slow
def test_delta_merge_wide_drift_random(spark, evs, split):
    """Wide-table MERGE with schema evolution vs the batch path, under
    random drift: each event's payload key depends on its timestamp
    (m0/m1/m2), so batch 2 routinely carries columns the batch-1 target
    never had.  The evolved merge must equal the map path projected to
    the union of key columns, with pre-drift rows null-filled."""
    from cdc_pipe_line_spark.cdc.scd2 import apply_scd2
    from cdc_pipe_line_spark.delta_merge import (
        build_scd2_merge_wide,
        payload_columns,
        scd2_merge_source_wide,
        widen_scd2,
    )
    from tests.test_delta_merge import _rows_all, native_table

    split = min(split, len(evs))
    b1, b2 = evs[:split], evs[split:]

    def mk(batch, prefix):
        rows = [
            (
                f"{prefix}{i}",
                typ,
                str(k),
                f"2024-01-{1 + t:02d} 00:00:00",
                {f"m{t % 3}": f"{k}.{t}"} if typ != "delete" else None,
            )
            for i, (k, t, typ) in enumerate(batch)
        ]
        return spark.createDataFrame(
            rows,
            "event_id string, event_type string, key_value string, "
            "timestamp string, new_values map<string,string>",
        ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))

    ev1, ev2 = mk(b1, "a"), mk(b2, "b")
    h1 = apply_scd2(None, ev1).localCheckpoint()
    keys1 = payload_columns(h1)
    target = widen_scd2(h1, keys1).localCheckpoint()

    src, cols = scd2_merge_source_wide(h1, ev2)
    union_keys = sorted({*(s for _, s in keys1), *cols})
    ref = widen_scd2(
        apply_scd2(h1, ev2), [(k, k) for k in union_keys]
    )
    with tempfile.TemporaryDirectory() as d:
        table = native_table(spark, target, os.path.join(d, "t"))
        build_scd2_merge_wide(table, src, cols)
        result = table.toDF()
        assert set(result.columns) == {
            *target.columns, *cols
        }, "evolution must add exactly the batch's new columns"
        assert _rows_all(result) == _rows_all(ref)


def test_diff_self_is_empty(spark):
    from cdc_pipe_line_spark.queries import load_table

    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    assert snapshot_diff(orders, orders, "o_orderkey").count() == 0


def test_interval_overlap_join_exact(spark):
    """Bucketed interval-overlap join must equal the naive O(n*m)
    overlap predicate, including touching-but-not-overlapping edges."""
    from cdc_pipe_line_spark.joins import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 5.0, 6.0), (3, 20.0, 30.0)], "lid int, llo double, lhi double"
    )
    right = spark.createDataFrame(
        [(10, 9.0, 12.0), (20, 10.0, 15.0), (30, 29.9, 40.0), (40, 6.0, 7.0)],
        "rid int, rlo double, rhi double",
    )
    got = {
        (r.lid, r.rid)
        for r in interval_overlap_join(
            left,
            right,
            left_lo="llo",
            left_hi="lhi",
            right_lo="rlo",
            right_hi="rhi",
            bucket_width=4.0,
        ).collect()
    }
    naive = {
        (l.lid, r.rid)
        for l in left.collect()
        for r in right.collect()
        if l.llo < r.rhi and r.rlo < l.lhi
    }
    assert got == naive
    assert (1, 20) not in got  # [0,10) vs [10,15) touch, don't overlap


def test_salted_aggregate_equals_direct(spark):
    from cdc_pipe_line_spark.functions import salted_aggregate
    from cdc_pipe_line_spark.queries import load_table

    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    got = {
        r.event_type: (r.n, r.s)
        for r in salted_aggregate(
            ev, ["event_type"], {"n": ("count", "event_id"), "s": ("sum", "event_id")}
        ).collect()
    }
    want = {
        r.event_type: (r.n, r.s)
        for r in ev.groupBy("event_type")
        .agg(F.count("event_id").alias("n"), F.sum("event_id").alias("s"))
        .collect()
    }
    assert got == want


def test_salted_aggregate_zipf_equals_direct(spark):
    """Adversarial key distribution (VERDICT r03 item 2): a Zipf-drawn
    key (head key ~ hot) through the two-stage salted aggregate must
    equal the direct groupBy exactly.  The matching sf1-volume TIMING
    soak lives in tools/skew_soak.py (recorded in BENCH_NOTES.md:
    zipf/uniform steady ratio 1.21, no cliff)."""
    import numpy as np

    from cdc_pipe_line_spark.functions import salted_aggregate

    rng = np.random.default_rng(7)
    keys = [int(k) % 50 for k in rng.zipf(1.1, size=5000)]
    df = spark.createDataFrame(
        [(i, k, float(i % 97)) for i, k in enumerate(keys)],
        "event_id long, k long, value double",
    )
    aggs = {"n": ("count", "event_id"), "s": ("sum", "event_id"),
            "mx": ("max", "value")}
    got = {r.k: (r.n, r.s, r.mx) for r in salted_aggregate(df, ["k"], aggs).collect()}
    want = {
        r.k: (r.n, r.s, r.mx)
        for r in df.groupBy("k")
        .agg(F.count("event_id").alias("n"), F.sum("event_id").alias("s"),
             F.max("value").alias("mx"))
        .collect()
    }
    assert got == want


def test_diff_hot_key_ten_percent_of_rows(spark):
    """The skew-soak shape at test scale: ONE key carries 10% of the
    snapshot's rows on both sides.  The dedup guard must collapse it
    (never cross-product: 1000x1000 would be 1M rows), produce the
    exact per-key diff for the uniform keys, and keep the two-exchange
    plan — the properties that make the sf1 timing soak's 1.37x ratio
    a trade, not a cliff."""
    import re

    n = 10_000
    hot = spark.range(n).selectExpr(
        "CASE WHEN id % 10 = 0 THEN 'hot' ELSE CAST(id AS STRING) END AS k",
        "id AS v",
    )
    hot2 = spark.range(n).selectExpr(
        "CASE WHEN id % 10 = 0 THEN 'hot' ELSE CAST(id AS STRING) END AS k",
        "CASE WHEN id % 7 = 0 THEN id + 1 ELSE id END AS v",
    )
    d = snapshot_diff(hot2, hot, "k").cache()
    try:
        # every key appears at most once in the diff
        assert d.groupBy("key_value").count().filter("count > 1").count() == 0
        # uniform updated keys: id%7==0 and id%10!=0 -> update rows
        expected_updates = sum(
            1 for i in range(n) if i % 7 == 0 and i % 10 != 0
        )
        got_updates = d.filter(
            (F.col("event_type") == "update") & (F.col("key_value") != "hot")
        ).count()
        assert got_updates == expected_updates
    finally:
        d.unpersist()
    # plan from an uncached diff (a cached one wraps the plan in its
    # InMemoryTableScan materialization and double-counts exchanges)
    plan = (
        snapshot_diff(hot2, hot, "k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan


def test_diff_duplicate_keys_collapse_like_reference(spark):
    """The reference's {str(key): row} dicts keep ONE row per key; a
    hot duplicated key must therefore collapse, never cross-product —
    this is also the diff's skew guard, since AQE cannot split a
    FullOuter join."""
    hot_new = spark.createDataFrame(
        [("hot", f"v{i}") for i in range(500)] + [("k1", "a")],
        "k string, v string",
    )
    hot_prev = spark.createDataFrame(
        [("hot", f"v{i}") for i in range(500)] + [("k1", "b")],
        "k string, v string",
    )
    d = snapshot_diff(hot_new, hot_prev, "k").cache()
    try:
        # at most one event per key; 500x500 pairs would be 250k rows
        assert d.count() <= 2
        by_key = {r.key_value: r for r in d.collect()}
        assert by_key["k1"].event_type == "update"
        # deterministic: same input -> same survivor -> same output
        d2 = snapshot_diff(hot_new, hot_prev, "k")
        assert sorted(map(tuple, d.collect())) == sorted(map(tuple, d2.collect()))
    finally:
        d.unpersist()


def test_diff_dedup_adds_no_exchange(spark):
    """The key-dedup aggregate partitions on the join key, so the diff
    keeps exactly ONE exchange per side (the aggregate's); a third
    exchange means Catalyst stopped reusing the partitioning."""
    import re

    a = spark.range(1000).selectExpr("CAST(id AS STRING) k", "id * 2 AS v")
    b = spark.range(1000).selectExpr("CAST(id AS STRING) k", "id * 3 AS v")
    plan = (
        snapshot_diff(a, b, "k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2, plan


@pytest.mark.slow
def test_connected_components_long_chain_and_random_graphs(spark):
    """Pointer jumping must converge in O(log diameter): a 120-node
    path (diameter 119) far exceeds what plain min-label propagation
    could finish in 20 rounds.  Ground truth via union-find."""
    import random

    from cdc_pipe_line_spark.text import dedup_connected_components

    def ground_truth(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {x: find(x) for x in parent}

    rng = random.Random(7)
    chain = [(i, i + 1) for i in range(120)]
    # a few random sparse graphs with long tendrils
    graphs = [chain]
    for _ in range(3):
        nodes = list(range(200))
        rng.shuffle(nodes)
        g = [(nodes[i], nodes[i + 1]) for i in range(0, 150, 2)]
        g += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(30)]
        g = [(a, b) for a, b in g if a != b]
        graphs.append(g)

    for g in graphs:
        pairs = spark.createDataFrame(g, "id_a long, id_b long")
        got = {
            r.doc_id: r.keeper_id
            for r in dedup_connected_components(pairs).collect()
        }
        assert got == ground_truth(g)


@given(
    texts=st_.lists(
        st_.lists(
            st_.sampled_from("aa bb cc dd ee ff gg hh".split()),
            min_size=0,
            max_size=30,
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@pytest.mark.slow
def test_duplicate_spans_invariants_random(spark, texts):
    """Random small-vocab corpora (dense n-gram collisions): spans per
    doc are disjoint, ordered, within bounds, each at least n words
    wide, and n_positions == span width - n + 1 never exceeded."""
    from cdc_pipe_line_spark.text import duplicate_spans

    n = 3
    docs = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(texts)],
        "doc_id long, text string",
    )
    lengths = {i: len(words) for i, words in enumerate(texts)}
    spans = sorted(
        ((r.id, r.span_start, r.span_end, r.n_positions)
         for r in duplicate_spans(docs, n=n, min_df=2).collect())
    )
    prev_end = {}
    for doc, s, e, npos in spans:
        assert 0 <= s and e <= lengths[doc]
        assert e - s >= n
        assert 1 <= npos <= e - s - n + 1
        # disjoint and strictly beyond the previous span (merged maximal)
        assert s > prev_end.get(doc, -1)
        prev_end[doc] = e


@given(
    toks=st_.lists(st_.integers(min_value=1, max_value=50), min_size=1, max_size=40),
    budget=st_.integers(min_value=1, max_value=200),
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@pytest.mark.slow
def test_domain_mix_budget_bound_random(spark, toks, budget):
    """Taken tokens never exceed budget + (last doc - 1): the greedy
    fill stops as soon as the exclusive running sum reaches the
    budget, so overshoot is bounded by one straddling document."""
    from cdc_pipe_line_spark.text import domain_mix

    docs = spark.createDataFrame(
        [(i, "d", t) for i, t in enumerate(toks)],
        "doc_id long, source string, ws_tokens long",
    )
    out = domain_mix(docs, {"d": budget}, token_col="ws_tokens").collect()
    taken = [r for r in out if r.take]
    total = sum(r.ws_tokens for r in taken)
    assert total <= budget + max(toks) - 1 or not taken
    # if anything was left untaken, the taken set must have reached the budget
    if len(taken) < len(out):
        assert total >= budget
    # determinism across runs
    again = {r.id: r.take for r in
             domain_mix(docs, {"d": budget}, token_col="ws_tokens").collect()}
    assert again == {r.id: r.take for r in out}


def test_lm_score_partitioning_invariant(spark):
    """The per-doc float fold is POSITION-ordered, so the scores must
    be bit-identical under any physical partitioning — the determinism
    contract the oracle hash depends on."""
    from cdc_pipe_line_spark.queries import load_table
    from cdc_pipe_line_spark.text import lm_bigram_model, lm_score

    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    outs = []
    for parts in (1, 7):
        d = docs.repartition(parts)
        model, vocab = lm_bigram_model(d)
        outs.append({
            r.id: (r.avg_logp, r.min_logp, r.ppl)
            for r in lm_score(d, model, vocab).collect()
        })
    assert outs[0] == outs[1]


def test_sq8_bounds_partitioning_invariant(spark):
    """min/max are selections, not arithmetic: quantizer bounds must
    not depend on partitioning or aggregation order."""
    from cdc_pipe_line_spark.queries import load_table
    from cdc_pipe_line_spark.similarity import sq8_bounds

    from tests.conftest import SF_DIR

    emb = load_table(spark, SF_DIR, "embeddings")
    b1 = sq8_bounds(emb.repartition(1)).collect()[0]
    b32 = sq8_bounds(emb.repartition(13)).collect()[0]
    assert b1.mins == b32.mins and b1.maxs == b32.maxs


def test_holt_partitioning_invariant(spark):
    """Holt's coupled fold is position-ordered per key: outputs must
    be bit-identical under any physical partitioning."""
    from cdc_pipe_line_spark.queries import load_table
    from cdc_pipe_line_spark.timeseries import holt_by_key

    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    outs = []
    for parts in (1, 7):
        outs.append({
            r.user_id: (r.level, r.trend, r.forecast_next)
            for r in holt_by_key(ev.repartition(parts)).collect()
        })
    assert outs[0] == outs[1]


def test_pagerank_partitioning_invariant_after_round(spark):
    """PageRank inflow sums are distributed float adds (order floats
    with partitioning), but the 8-decimal published rounding must
    absorb the ulp: identical ranked output under different physical
    partitionings."""
    from cdc_pipe_line_spark.analytics import pagerank
    from pyspark.sql import functions as F

    edges = spark.range(0, 300).select(
        F.concat(F.lit("d:"), F.col("id")).alias("src"),
        F.concat(F.lit("s:"), (F.col("id") % 7)).alias("dst"),
    )
    both = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    outs = []
    for parts in (2, 13):
        pr = pagerank(both.repartition(parts), n_iter=3)
        outs.append({
            r.node: round(r.rank, 8) for r in pr.collect()
        })
    assert outs[0] == outs[1]


def test_heavy_hitters_partitioning_invariant(spark):
    """The MG candidate SET varies with partitioning; the exact
    recount must not."""
    from cdc_pipe_line_spark.queries import load_table
    from cdc_pipe_line_spark.analytics import heavy_hitters

    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    outs = []
    for parts in (1, 11):
        outs.append({
            r.user_id: r.n
            for r in heavy_hitters(
                ev.repartition(parts), "user_id", support=0.001
            ).collect()
        })
    assert outs[0] == outs[1]


# -------------------------------------------- round-5 graph operators


_edge_lists = st_.lists(
    st_.tuples(
        st_.integers(min_value=1, max_value=8),
        st_.integers(min_value=1, max_value=8),
    ).filter(lambda e: e[0] < e[1]),
    max_size=14,
    unique=True,
)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_edge_lists)
@pytest.mark.slow
def test_triangle_count_matches_bruteforce(spark, edges):
    """Distributed wedge-closure enumeration == O(n^3) reference on
    arbitrary small graphs (canonical a<b orientation)."""
    from itertools import combinations

    from cdc_pipe_line_spark.analytics import triangle_count

    eset = set(edges)
    nodes = sorted({n for e in edges for n in e})
    expect = {
        (x, y, z)
        for x, y, z in combinations(nodes, 3)
        if (x, y) in eset and (y, z) in eset and (x, z) in eset
    }
    if not edges:
        df = spark.createDataFrame([], "a long, b long")
    else:
        df = spark.createDataFrame(edges, "a long, b long")
    got = {tuple(r) for r in triangle_count(df).collect()}
    assert got == expect


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edges=_edge_lists, k=st_.integers(min_value=1, max_value=3))
@pytest.mark.slow
def test_khop_matches_bfs(spark, edges, k):
    """Frontier iteration == textbook BFS hop levels from node 1."""
    from collections import deque

    from cdc_pipe_line_spark.analytics import khop_reach

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # reference BFS
    expect = {1: 0}
    dq = deque([(1, 0)])
    while dq:
        n, h = dq.popleft()
        if h == k:
            continue
        for m in adj.get(n, ()):  # noqa: B905
            if m not in expect:
                expect[m] = h + 1
                dq.append((m, h + 1))
    und = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    df = (
        spark.createDataFrame(und, "src long, dst long")
        if und
        else spark.createDataFrame([], "src long, dst long")
    )
    got = {r["node"]: r["hop"] for r in khop_reach(df, 1, k=k).collect()}
    assert got == expect


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st_.lists(
        st_.integers(min_value=0, max_value=50), min_size=2, max_size=20
    )
)
@pytest.mark.slow
def test_cusum_matches_reference(spark, vals):
    """applyInPandas CUSUM == a pure-python reference recursion on
    arbitrary integer series (one group, ordered days)."""
    import datetime as _dt
    import math as _math

    from cdc_pipe_line_spark.timeseries import cusum_changepoints

    rows = [
        ("g", _dt.date(2024, 1, 1) + _dt.timedelta(days=i), float(v))
        for i, v in enumerate(vals)
    ]
    daily = spark.createDataFrame(
        rows, "grp string, day date, value double"
    )
    got = {
        r["d"]: (r["s_hi"], r["s_lo"], r["alarm"], r["n_alarms_so_far"])
        for r in cusum_changepoints(
            daily, group_cols=["grp"], value_col="value", ts_col="day"
        ).collect()
    }
    # reference
    n = len(vals)
    mu = _math.floor(sum(vals) / n * 1e6 + 0.5) / 1e6
    if n > 1:
        var = sum((v - sum(vals) / n) ** 2 for v in vals) / (n - 1)
        sd = _math.floor(_math.sqrt(var) * 1e6 + 0.5) / 1e6
    else:
        sd = 0.0
    s_hi = s_lo = 0.0
    alarms = 0
    for i, v in enumerate(vals):
        z = (v - mu) / sd if sd > 0 else 0.0
        s_hi = max(0.0, s_hi + z - 0.5)
        s_lo = max(0.0, s_lo - z - 0.5)
        alarm = s_hi > 4.0 or s_lo > 4.0
        if alarm:
            alarms += 1
            s_hi = s_lo = 0.0
        d = (_dt.date(2024, 1, 1) + _dt.timedelta(days=i)).isoformat()
        fl = lambda x: _math.floor(x * 1e4 + 0.5) / 1e4
        assert got[d][2] == alarm and got[d][3] == alarms, d
        assert abs(got[d][0] - fl(s_hi)) < 1e-9, d
        assert abs(got[d][1] - fl(s_lo)) < 1e-9, d


def test_bloom_prefilter_no_false_negatives_and_sheds(spark):
    """The explicit Bloom prefilter (joins.bloom_filter_build /
    bloom_prefilter) must keep EVERY true member (no false negatives
    -> prefiltered join == plain join) while shedding most
    non-members at these m/k/n parameters (m=65536 bits, k=5, n=200
    keys -> FPP ~ 1e-6; assert a loose <5% bound so the test never
    flakes on hash luck)."""
    from pyspark.sql import functions as F

    from cdc_pipe_line_spark.joins import bloom_filter_build, bloom_prefilter

    members = spark.range(0, 200).select((F.col("id") * 7 + 3).alias("k"))
    # facts: every member plus 5000 ids from a disjoint range
    facts = (
        spark.range(0, 5000)
        .select((F.col("id") + 1_000_000).alias("k"))
        .unionAll(members)
    )
    bloom = bloom_filter_build(members, "k", num_bits=1 << 16, num_hashes=5)
    assert bloom.count() == 1
    pre = bloom_prefilter(facts, bloom, "k", num_bits=1 << 16, num_hashes=5)
    kept = pre.count()
    # all 200 members survive
    assert pre.join(members, "k", "left_semi").count() == 200
    # non-member shed rate: >95% of the 5000 non-members gone
    assert kept - 200 < 250
    # prefilter-then-join equals plain join exactly
    assert (
        pre.join(members, "k").count() == facts.join(members, "k").count() == 200
    )


def test_bloom_bitmap_bounded_by_word_count(spark):
    """The bitmap aggregation's cardinality is bounded by num_bits/64
    words however many keys go in — the property that makes the build
    a safe single shuffle at any dim size."""
    from pyspark.sql import functions as F

    from cdc_pipe_line_spark.joins import bloom_filter_build

    keys = spark.range(0, 20_000).select(F.col("id").alias("k"))
    row = bloom_filter_build(keys, "k", num_bits=1 << 10, num_hashes=3).head()
    assert len(row.bloom) <= (1 << 10) // 64


def test_token_spans_udtf_eval_contract():
    """Pure-Python contract of the UDTF: 1-based positions, empty
    tokens from repeated spaces dropped, None row yields nothing."""
    from cdc_pipe_line_spark.functions import TokenSpansUDTF

    t = TokenSpansUDTF()
    assert list(t.eval("a bb  ccc")) == [(1, "a", 1), (2, "bb", 2), (4, "ccc", 3)]
    assert list(t.eval(None)) == []
    assert list(t.eval("")) == []
