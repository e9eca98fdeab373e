"""Online incremental rescale (LakeTable.begin_rescale + split_bucket)
— the table-growth path: one bucket per commit while applies keep
landing, the last split finalizing num_buckets — and the full rewrite
(``overwrite``) that clears an in-flight rescale.
"""

import os

from pyspark.sql import functions as F

from debezium_partial_snapshotter_spark.functions import bucket_id_py
from debezium_partial_snapshotter_spark.operators.upsert import (
    apply_batch,
    empty_table_for,
)
from debezium_partial_snapshotter_spark.schemas import (
    CHANGE_EVENT_SCHEMA,
    TOKENS_SCHEMA,
)


def _events(spark, rows):
    data = [
        (
            op,
            d,
            lsn,
            "false",
            "tokens/0000",
            None if op == "d" else (d, [lsn], 1, "s"),
        )
        for op, d, lsn in rows
    ]
    return spark.createDataFrame(data, CHANGE_EVENT_SCHEMA)


def test_apply_rebuckets_on_concurrent_rescale(spark, tmp_warehouse):
    """A rescale changing the bucket COUNT between an apply's read and
    its commit must NOT let stale-bucketed rows commit (they would land
    in partitions that disagree with the new bucket function and vanish
    from pruned reads); apply_batch must conflict and re-merge under
    the new layout. Here the count change is the finalizing split of
    an online rescale: buckets 0-2 are split before the apply plans,
    and bucket 3's split (4 -> 8 buckets) lands inside its commit."""
    from debezium_partial_snapshotter_spark.plans.lake import LakeTable

    path = os.path.join(tmp_warehouse, "t4")
    table = empty_table_for(path, TOKENS_SCHEMA, 4)
    apply_batch(
        table, _events(spark, [("u", f"k{i}", 10 + i) for i in range(12)]),
        commit_key="p:0",
    )
    assert table.begin_rescale(8)["applied"]
    for b in range(3):
        assert table.split_bucket(spark, b, commit_key=f"p:split:{b}")["applied"]

    other = LakeTable(path)
    orig = table.replace_buckets
    fired = {"n": 0}

    def hook(*a, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            out = other.split_bucket(spark, 3, commit_key="p:split:3")
            assert out["finalized"] and other.num_buckets == 8
        return orig(*a, **kw)

    table.replace_buckets = hook
    stats = apply_batch(
        table, _events(spark, [("u", "k1", 99), ("u", "zz", 100)]),
        commit_key="p:1",
    )
    table.replace_buckets = orig
    assert stats["applied"] is True and stats["retries"] == 1
    assert table.num_buckets == 8

    # every row must be findable through NEW-layout bucket pruning
    for d in ["k1", "zz", "k5"]:
        b = bucket_id_py(d, 8)
        found = {r["doc_id"] for r in table.read(spark, buckets=[b]).collect()}
        assert d in found, (d, b)
    got = {r["doc_id"]: r["_lsn"] for r in table.read(spark).collect()}
    assert got["k1"] == 99 and got["zz"] == 100 and len(got) == 13


# ---------------------------------------------------------------------------
# ONLINE incremental rescale (VERDICT r2 next-4): one bucket per commit,
# tail batches keep applying between splits
# ---------------------------------------------------------------------------
def test_online_rescale_interleaved_with_tail_batches(spark, tmp_warehouse):
    t = empty_table_for(os.path.join(tmp_warehouse, "ol"), TOKENS_SCHEMA, 4)
    rows = [("u", f"k{i}", 100 + i) for i in range(40)]
    assert apply_batch(t, _events(spark, rows), commit_key="p:0")["applied"]
    expected = {f"k{i}": 100 + i for i in range(40)}

    assert t.begin_rescale(8)["applied"] is True
    assert t.num_buckets == 4  # not finalized yet

    lsn = 1000
    for b in range(4):
        # a live tail batch BETWEEN splits: updates keys in split AND
        # unsplit buckets, a delete, and a brand-new key — alternating
        # cow and mor write modes
        batch = [
            ("u", f"k{b}", lsn),
            ("u", f"k{b + 20}", lsn + 1),
            ("d", f"k{b + 30}", lsn + 2),
            ("u", f"new{b}", lsn + 3),
        ]
        mode = "mor" if b % 2 else "cow"
        assert apply_batch(
            t, _events(spark, batch), commit_key=f"p:tail:{b}", write_mode=mode
        )["applied"]
        expected[f"k{b}"] = lsn
        expected[f"k{b + 20}"] = lsn + 1
        del expected[f"k{b + 30}"]
        expected[f"new{b}"] = lsn + 3
        lsn += 10

        out = t.split_bucket(spark, b, commit_key=f"p:split:{b}")
        assert out["applied"] is True and out["bucket"] == b
        assert out["new_ids"] == [b, b + 4]
        # mid-transition reads stay complete and correct
        got = {r["doc_id"]: r["_lsn"] for r in t.read(spark).collect()}
        assert got == expected, f"after split {b}"

    assert t.num_buckets == 8
    assert "rescale" not in t.manifest()  # finalized by the last split
    man = t.manifest()
    assert all(0 <= int(x) < 8 for x in man["buckets"])

    # pruning follows the NEW bucket function for every surviving key
    for d in list(expected)[:6]:
        nb8 = bucket_id_py(d, 8)
        found = {r["doc_id"] for r in t.read(spark, buckets=[nb8]).collect()}
        assert d in found
        assert all(bucket_id_py(x, 8) == nb8 for x in found)

    # post-finalize applies use the new layout directly
    assert apply_batch(
        t, _events(spark, [("u", "k0", 9999)]), commit_key="p:after"
    )["applied"]
    assert {r["_lsn"] for r in t.read(spark).where("doc_id = 'k0'").collect()} == {9999}
    # re-running the orchestration after completion is a no-op
    assert t.begin_rescale(8)["reason"] == "noop"


def test_online_rescale_validates_multiple(spark, tmp_warehouse):
    import pytest as _pytest

    t = empty_table_for(os.path.join(tmp_warehouse, "olv"), TOKENS_SCHEMA, 4)
    with _pytest.raises(ValueError, match="multiple"):
        t.begin_rescale(6)
    assert t.begin_rescale(8)["applied"]
    # double-begin with a different target refuses; same target resumes
    from debezium_partial_snapshotter_spark.plans.lake import CommitConflict

    with _pytest.raises(CommitConflict, match="in progress"):
        t.begin_rescale(16)
    assert t.begin_rescale(8)["reason"] == "in_progress"
    # split twice is idempotent-by-state
    assert t.split_bucket(spark, 1)["applied"] is True
    assert t.split_bucket(spark, 1)["reason"] == "already_split"


def test_apply_remerges_when_split_lands_mid_commit(spark, tmp_warehouse):
    """A split of bucket b landing between an apply's planning and its
    commit changes the layout token: the apply must re-bucket +
    re-merge (CommitConflict path), never place rows under the old
    numbering."""
    from debezium_partial_snapshotter_spark.plans.lake import LakeTable

    path = os.path.join(tmp_warehouse, "olr")
    t = empty_table_for(path, TOKENS_SCHEMA, 4)
    rows = [("u", f"k{i}", 10 + i) for i in range(16)]
    apply_batch(t, _events(spark, rows), commit_key="p:0")
    assert t.begin_rescale(8)["applied"]

    other = LakeTable(path)
    orig = t.replace_buckets
    fired = {"n": 0}

    def hook(*a, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            for b in range(4):
                other.split_bucket(spark, b, commit_key=f"q:split:{b}")
        return orig(*a, **kw)

    t.replace_buckets = hook
    stats = apply_batch(
        t, _events(spark, [("u", "k1", 99), ("u", "zz", 100)]), commit_key="p:1"
    )
    t.replace_buckets = orig
    assert stats["applied"] is True
    assert t.num_buckets == 8

    got = {r["doc_id"]: r["_lsn"] for r in t.read(spark).collect()}
    assert got["k1"] == 99 and got["zz"] == 100 and len(got) == 17
    for d in ["k1", "zz", "k7"]:
        b8 = bucket_id_py(d, 8)
        assert d in {r["doc_id"] for r in t.read(spark, buckets=[b8]).collect()}


def test_concurrent_splits_do_not_erase_each_other(spark, tmp_warehouse):
    """Two split_bucket calls racing: the loser's manifest_update
    carries a done-set computed from a stale base — without the layout
    guard its internal commit retry would overwrite the winner's done
    entry, hiding that bucket's child entries from bucket_expr routing.
    The guard conflicts it out to the split loop, which recomputes."""
    from debezium_partial_snapshotter_spark.plans.lake import LakeTable

    path = os.path.join(tmp_warehouse, "race")
    t = empty_table_for(path, TOKENS_SCHEMA, 4)
    rows = [("u", f"k{i}", 100 + i) for i in range(40)]
    assert apply_batch(t, _events(spark, rows), commit_key="p:0")["applied"]
    assert t.begin_rescale(8)["applied"]

    other = LakeTable(path)
    orig = t.replace_buckets
    fired = {"n": 0}

    def hook(*a, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            assert other.split_bucket(spark, 1, commit_key="q:s1")["applied"]
        return orig(*a, **kw)

    t.replace_buckets = hook
    out = t.split_bucket(spark, 0, commit_key="p:s0")
    t.replace_buckets = orig
    assert out["applied"] is True

    rs = t.manifest().get("rescale")
    assert rs is not None and sorted(rs["done"]) == [0, 1]  # BOTH survive
    assert t.read(spark).count() == 40
    # every key is reachable through its EFFECTIVE bucket
    for i in range(10):
        d = f"k{i}"
        b4 = bucket_id_py(d, 4)
        eff = bucket_id_py(d, 8) if b4 in (0, 1) else b4
        assert d in {
            r["doc_id"] for r in t.read(spark, buckets=[eff]).collect()
        }, (d, b4, eff)


def test_overwrite_mid_rescale_clears_transition(spark, tmp_warehouse):
    """overwrite() during an in-flight incremental rescale must (a) be
    computed from ONE manifest read guarded by expected_layout, (b)
    clear the rescale state in the same commit, and (c) route with the
    PLAIN bucket function — rows routed with the transitional
    expression while clearing the transition would strand data in
    above-nb entries that later merge writers never replace."""
    t = empty_table_for(os.path.join(tmp_warehouse, "ow"), TOKENS_SCHEMA, 4)
    rows = [("u", f"k{i}", 100 + i) for i in range(40)]
    assert apply_batch(t, _events(spark, rows), commit_key="p:0")["applied"]
    assert t.begin_rescale(8)["applied"]
    assert t.split_bucket(spark, 1, commit_key="p:s1")["applied"]
    assert "rescale" in t.manifest()

    new = t.read(spark).withColumn("_lsn", F.col("_lsn") + 1000)
    t.overwrite(new.drop("_bucket"))

    man = t.manifest()
    assert "rescale" not in man  # transition cleared atomically
    assert man["num_buckets"] == 4
    # no stranded entries above the plain bucket count
    assert all(int(b) < 4 for b in man["buckets"])
    got = {r["doc_id"]: r["_lsn"] for r in t.read(spark).collect()}
    assert got == {f"k{i}": 1100 + i for i in range(40)}
    # subsequent merge writers see a plain layout and apply cleanly
    assert apply_batch(
        t, _events(spark, [("u", "k1", 5000)]), commit_key="p:after"
    )["applied"]
    assert {
        r["_lsn"] for r in t.read(spark).where(F.col("doc_id") == "k1").collect()
    } == {5000}


def test_overwrite_conflicts_on_concurrent_split(spark, tmp_warehouse):
    """A split_bucket landing between overwrite()'s manifest read and
    its commit changes the layout token -> the guarded commit must
    CommitConflict internally and the retry must land on the fresh
    manifest (previously: silent row misplacement)."""
    from debezium_partial_snapshotter_spark.plans.lake import LakeTable

    path = os.path.join(tmp_warehouse, "owrace")
    t = empty_table_for(path, TOKENS_SCHEMA, 4)
    rows = [("u", f"k{i}", 100 + i) for i in range(40)]
    assert apply_batch(t, _events(spark, rows), commit_key="p:0")["applied"]
    assert t.begin_rescale(8)["applied"]

    other = LakeTable(path)
    orig = t.replace_buckets
    fired = {"n": 0}

    def hook(*a, **kw):
        if fired["n"] == 0:
            fired["n"] = 1
            assert other.split_bucket(spark, 2, commit_key="q:s2")["applied"]
        return orig(*a, **kw)

    t.replace_buckets = hook
    new = t.read(spark).withColumn("_lsn", F.col("_lsn") + 1000).drop("_bucket")
    t.overwrite(new)
    t.replace_buckets = orig

    man = t.manifest()
    assert "rescale" not in man and man["num_buckets"] == 4
    assert all(int(b) < 4 for b in man["buckets"])
    got = {r["doc_id"]: r["_lsn"] for r in t.read(spark).collect()}
    assert got == {f"k{i}": 1100 + i for i in range(40)}
