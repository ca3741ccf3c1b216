"""ToruaEngine facade: the reference's BDD scenarios
(features/distributed-storage.feature) replayed against the Python API,
plus the shard-partitioned at-rest layout with partition-pruned reads.
"""

import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from torua_spark.constants import FNV_MOD, FNV_OFFSET_BASIS, FNV_PRIME
from torua_spark.engine import FLUSH_EVERY, ToruaEngine
from torua_spark.plans import plan_string
from torua_spark.sources.local import local_df


def fnv_py(s: str) -> int:
    h = FNV_OFFSET_BASIS
    for b in s.encode("utf-8"):
        h = ((h ^ b) * FNV_PRIME) % FNV_MOD
    return h


def flushed(e: ToruaEngine) -> ToruaEngine:
    """Flush the memtable (``dataframe()`` flushes first), so that the
    reads after it go through Spark."""
    e.dataframe()
    assert not e._memtable
    return e


def test_crud_scenarios(spark):
    """Store/retrieve, update, delete, 404 — the core BDD scenarios."""
    e = ToruaEngine(spark)
    e.put("simple", "v1").put("user@example.com", "v2").put("数字", "unicode-value")
    assert e.get("simple") == "v1"
    assert e.get("user@example.com") == "v2"
    assert e.get("数字") == "unicode-value"
    assert e.get("missing") is None            # 404
    e.put("simple", "v1-updated")              # overwrite
    assert e.get("simple") == "v1-updated"
    e.delete("simple")
    assert e.get("simple") is None
    e.delete("simple")                         # idempotent
    assert sorted(e.scan("a", "z")) == ["user@example.com"]
    # the same reads through Spark
    flushed(e)
    assert e.get("simple") is None
    assert e.get("user@example.com") == "v2"
    assert e.get("数字") == "unicode-value"
    assert e.get("missing") is None
    assert e.scan("a", "z") == ["user@example.com"]


def test_routing_matches_reference_hash(spark):
    e = ToruaEngine(spark)
    for key in ["simple", "path/to/resource", "数字"]:
        shard, node = e.route(key)
        assert shard == fnv_py(key) % 4
        assert node == ("n1" if shard % 2 == 0 else "n2")


def test_empty_value_and_large_value(spark):
    """BDD: empty values valid; >1MB values round-trip."""
    e = ToruaEngine(spark)
    big = "x" * (1024 * 1024 + 17)
    e.put_many([("empty", ""), ("big", big)])
    for _ in range(2):  # from the memtable, then through Spark
        assert e.get("empty") == ""
        got = e.get("big")
        assert got is not None and len(got) == len(big)
        flushed(e)


def test_checkpoint_partition_prunes(spark, tmp_path):
    """At-rest layout: shard-partitioned parquet; a point lookup with
    the routing predicate prunes to ONE shard directory — the batch
    analog of coordinator routing."""
    e = ToruaEngine(spark)
    e.put_many([(f"key-{i}", f"v{i}") for i in range(200)])
    path = str(tmp_path / "kvstate")
    e.checkpoint_to(path)

    key = "key-42"
    shard = fnv_py(key) % 4
    df = (
        spark.read.parquet(path)
        .filter((F.col("shard_id") == shard) & (F.col("key") == key))
    )
    plan = plan_string(df)
    assert "PartitionFilters" in plan and "shard_id" in plan, plan
    assert [r["value"] for r in df.collect()] == ["v42"]

    restored = ToruaEngine.restore_from(spark, path)
    assert restored.get("key-42") == "v42"
    assert sorted(restored.list_keys()) == sorted(f"key-{i}" for i in range(200))


def test_shard_hint_scoped_reads(spark, tmp_path):
    """Query-message ``shard_hint`` (ARCHITECTURE.md:327-339): scan and
    list_keys scoped to hinted shards return exactly the keys those
    shards own. On a freshly-restored engine the hint filters the
    PARTITION column and Spark prunes to the hinted directories
    (PartitionFilters); after a mutation the at-rest view is invalid
    and the routing predicate takes over — same result set."""
    keys = [f"key-{i}" for i in range(120)]
    e = ToruaEngine(spark)
    e.put_many([(k, f"v{k}") for k in keys])
    hint = [1, 3]
    want = sorted(k for k in keys if fnv_py(k) % 4 in hint)
    # in-memory engine: routing-predicate path
    assert sorted(e.list_keys(shard_hint=hint)) == want
    assert e.scan("key-", "key-z", shard_hint=hint) == want
    # restored engine: partition-column path, directory-pruned
    path = str(tmp_path / "kvstate")
    e.checkpoint_to(path)
    r = ToruaEngine.restore_from(spark, path)
    hinted = r._hinted(hint)
    plan = plan_string(hinted)
    assert "PartitionFilters" in plan and "shard_id" in plan, plan
    assert sorted(r.list_keys(shard_hint=hint)) == want
    assert r.scan("key-", "key-z", shard_hint=hint) == want
    # single-shard form still works and agrees with the ownership set
    one = sorted(k for k in keys if fnv_py(k) % 4 == 2)
    assert sorted(r.list_keys(shard_id=2)) == one
    # a mutation invalidates the at-rest view but not correctness
    r.put("key-extra", "v")
    want2 = sorted(
        k for k in keys + ["key-extra"] if fnv_py(k) % 4 in hint
    )
    assert sorted(r.list_keys(shard_hint=hint)) == want2


def test_checkpoint_restore_roundtrips_file_uri(spark, tmp_path):
    """r8 ADVICE: checkpoint_to writes the sidecar for file:// URIs,
    so restore_from must strip the scheme the same way — the
    round-trip keeps the sidecar's num_shards inference and the
    at-rest pruning view instead of silently degrading."""
    e = ToruaEngine(spark, num_shards=6)
    e.put_many([(f"key-{i}", f"v{i}") for i in range(40)])
    uri = f"file://{tmp_path / 'kvuri'}"
    e.checkpoint_to(uri)
    r = ToruaEngine.restore_from(spark, uri)
    assert r.num_shards == 6
    assert r._at_rest is not None
    assert r.get("key-7") == "v7"


def test_restore_guards_stale_or_foreign_at_rest(spark, tmp_path):
    """Review findings (r8): the at-rest partition view must never
    serve a shard_hint under a DIFFERENT sharding than the engine's
    routing — a 4-shard checkpoint restored as num_shards=8 falls back
    to the routing predicate (correct ownership sets), and foreign
    (key,value) parquet without shard_id/sidecar never crashes a
    hinted read. num_shards defaults from the checkpoint sidecar."""
    keys = [f"key-{i}" for i in range(60)]
    e = ToruaEngine(spark, num_shards=4)
    e.put_many([(k, "v") for k in keys])
    path = str(tmp_path / "kv4")
    e.checkpoint_to(path)
    # default restore picks num_shards=4 from the sidecar, prunes
    r = ToruaEngine.restore_from(spark, path)
    assert r.num_shards == 4 and r._at_rest is not None
    # explicit override to 8: stale layout disabled, routing takes over
    r8 = ToruaEngine.restore_from(spark, path, num_shards=8)
    assert r8._at_rest is None
    want8 = sorted(k for k in keys if fnv_py(k) % 8 == 6)
    assert sorted(r8.list_keys(shard_hint=[6])) == want8
    # foreign parquet (no shard_id, no sidecar): hint still answers
    foreign = str(tmp_path / "foreign")
    spark.createDataFrame(
        [(k, "v") for k in keys], "key string, value string"
    ).write.parquet(foreign)
    rf = ToruaEngine.restore_from(spark, foreign)
    assert rf._at_rest is None
    want = sorted(k for k in keys if fnv_py(k) % 4 in (1, 3))
    assert sorted(rf.list_keys(shard_hint=[1, 3])) == want
    # conflicting scopes raise instead of silently dropping one
    import pytest as _pytest

    with _pytest.raises(ValueError, match="conflicting"):
        r.list_keys(shard_id=2, shard_hint=[1, 3])


def test_stats_and_broadcast(spark):
    e = ToruaEngine(spark)
    e.put_many([(f"k{i}", "v" * i) for i in range(50)])
    stats = {r["shard_id"]: r["keys"] for r in e.stats().collect()}
    assert sum(stats.values()) == 50
    bg = e.broadcast_stats().collect()
    assert all(r["sent_to"] == 2 for r in bg)
    assert sum(r["keys"] for r in bg) == 50


def test_binary_values_roundtrip(spark):
    """The reference's true value model: opaque []byte
    (store.go:51-103; BDD 1 MB scenario features/distributed-storage
    .feature:74-79). Non-UTF-8 bytes, the empty value, and a >1 MB
    value must all round-trip byte-for-byte through put/get/upsert/
    delete, and stats must count value BYTES."""
    e = ToruaEngine(spark, value_type="binary")
    raw = bytes(range(256))                      # every byte value, not UTF-8
    big = bytes(range(256)) * 4200               # 1,075,200 bytes > 1 MB
    e.put_many([
        ("bin", raw),
        ("empty", b""),
        ("big", big),
        ("utf8", "héllo-数字".encode("utf-8")),
    ])
    for _ in range(2):  # from the memtable, then through Spark
        assert e.get("bin") == raw
        assert e.get("empty") == b""
        assert e.get("big") == big
        assert e.get("utf8") == "héllo-数字".encode("utf-8")
        assert e.get("missing") is None
        flushed(e)

    # LWW overwrite with different bytes
    e.put("bin", b"\x00\x01\x02")
    assert e.get("bin") == b"\x00\x01\x02"
    assert flushed(e).get("bin") == b"\x00\x01\x02"

    # stats counts bytes of the binary payloads
    stats = e.stats().collect()
    assert sum(r["keys"] for r in stats) == 4
    total = sum(r["bytes"] for r in stats)
    assert total == 3 + 0 + len(big) + len("héllo-数字".encode("utf-8"))

    e.delete("big")
    assert e.get("big") is None
    assert sorted(e.list_keys()) == ["bin", "empty", "utf8"]
    assert e.get("big") is None  # list_keys flushed: through Spark


def test_compact_for_serving_keeps_results_and_is_warm(spark):
    e = ToruaEngine(spark)
    e.put_many([(f"key-{i}", f"v{i}") for i in range(5000)])
    e.compact_for_serving()
    import time

    assert e.get("key-42") == "v42"          # warm the path
    t0 = time.perf_counter()
    assert e.get("key-4711") == "v4711"
    dt_ms = (time.perf_counter() - t0) * 1000
    # generous bound: measured p50 ~51ms warm; allow heavy-host noise
    assert dt_ms < 500, dt_ms
    assert e.get("nope") is None


# ---------------------------------------------------- memtable and flush


@pytest.mark.parametrize("serving", [False, True])
def test_flushes_bound_plan_depth_and_partitions(spark, serving):
    """delete_range counts as a mutation, so the flush every
    FLUSH_EVERY mutations also cuts the filters it stacks: 20 range
    deletes leave a logical plan no deeper than one flush interval.
    Flushes union literals into the state, yet its partition count
    stays bounded."""
    e = ToruaEngine(spark)
    e.put_many([(f"key-{i:03d}", f"v{i}") for i in range(200)])
    if serving:
        e.compact_for_serving()
    depths = []
    for i in range(20):
        e.delete_range(f"key-{i * 10:03d}", f"key-{i * 10 + 5:03d}")
        depths.append(len(e._kv._jdf.queryExecution().logical().treeString().splitlines()))
    assert max(depths) <= FLUSH_EVERY, depths
    for i in range(20):
        e.put(f"new-{i:02d}", "v")
    want = [f"key-{i:03d}" for i in range(200) if i % 10 >= 5]
    assert e.scan("key-", "key-z") == want
    assert sorted(e.list_keys()) == want + [f"new-{i:02d}" for i in range(20)]
    parts = e.dataframe().rdd.getNumPartitions()
    assert parts <= spark.sparkContext.defaultParallelism, parts


class JobLog:
    """Spark jobs by id watermark, read from the in-process status
    store after the listener bus has delivered every event."""

    def __init__(self, spark):
        self._sc = spark.sparkContext

    def _ids(self) -> list[int]:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return self._sc.statusTracker().getJobIdsForGroup()

    def mark(self) -> int:
        return max(self._ids(), default=-1)

    def since(self, mark: int) -> list[tuple[int, int]]:
        """(stages run, shuffle bytes) of each job with an id above
        ``mark``. A stage whose shuffle output is reused is skipped and
        does not count. Under adaptive execution a shuffle map stage
        runs as a job of its own, so shuffle bytes, not the stage
        count, show a shuffle."""
        store = self._sc._jsc.sc().statusStore()
        out = []
        for j in sorted(j for j in self._ids() if j > mark):
            job = store.job(j)
            ids = job.stageIds()
            stages = [store.lastStageAttempt(ids.apply(i)) for i in range(ids.size())]
            out.append((job.numCompletedStages(),
                        sum(s.shuffleReadBytes() + s.shuffleWriteBytes() for s in stages)))
        return out


def test_serving_job_budget(spark):
    """On a compact_for_serving engine: a write that does not flush
    runs no Spark job; a get that misses the memtable runs one job of
    one stage and no shuffle, even with FLUSH_EVERY - 1 writes
    pending; the flushing write shuffles nothing, and the plan it pins
    has no shuffle Exchange and no Window."""
    jobs = JobLog(spark)
    e = ToruaEngine(spark)
    e.put_many([(f"key-{i:04d}", f"v{i}") for i in range(2000)])
    e.compact_for_serving()
    for cycle in range(2):
        for i in range(FLUSH_EVERY - 1):
            mark = jobs.mark()
            if i % 2:
                e.put(f"new-{cycle}-{i}", "x")
            else:
                e.delete(f"key-{cycle}{i:03d}")
            assert jobs.since(mark) == [], (cycle, i)
        mark = jobs.mark()
        assert e.get("key-1500") == "v1500"
        assert jobs.since(mark) == [(1, 0)]
        if cycle:  # the base is a checkpoint now, not the cache
            plan = plan_string(e._merged())
            assert not re.search(r"\bExchange\b|Window", plan), plan
        mark = jobs.mark()
        e.put(f"new-{cycle}-flush", "y")
        assert not e._memtable
        flush = jobs.since(mark)
        assert flush and all(shuffled == 0 for _, shuffled in flush), flush
    assert e.get("new-1-flush") == "y" and e.get("key-1006") is None


# ------------------------------------------------------------ model check

KEYS = st.text(alphabet="ab'\\数", max_size=3)
VALUES = {
    "string": st.text(alphabet="xy'\\é", max_size=3),
    "binary": st.binary(max_size=3),
}
HINTS = st.lists(st.integers(0, 3), min_size=1, max_size=2)


def _ops(values):
    """(mutation strategy, read strategy) over a small key space, so
    that keys collide across puts, deletes and range edges."""
    key_list = st.lists(KEYS, max_size=4)
    mutations = st.one_of(
        st.tuples(st.just("put"), KEYS, values),
        st.tuples(st.just("put_many"), st.lists(st.tuples(KEYS, values), max_size=5)),
        st.tuples(st.just("delete"), key_list),
        st.tuples(st.just("delete_range"), KEYS, KEYS),
    )
    reads = st.one_of(
        st.tuples(st.just("get"), KEYS),
        st.tuples(st.just("multi_get"), key_list),
        st.tuples(st.just("scan"), KEYS, KEYS, st.none() | HINTS),
        st.tuples(st.just("list_keys")),
        st.tuples(st.just("stats")),
        st.tuples(st.just("dataframe")),
        st.tuples(st.just("checkpoint")),
    )
    return mutations, reads


def _apply(model: dict, e: ToruaEngine, op: tuple) -> list[str]:
    """Apply one mutation to the engine and the model; returns the
    keys it wrote."""
    name, *args = op
    if name == "put":
        e.put(*args)
        model[args[0]] = args[1]
        return [args[0]]
    if name == "put_many":
        e.put_many(args[0])
        batch: dict = {}
        for k, v in args[0]:  # a repeated key keeps its greatest value
            batch[k] = max(batch.get(k, v), v)
        model.update(batch)
        return list(batch)
    if name == "delete":
        e.delete(*args[0])
        for k in args[0]:
            model.pop(k, None)
        return list(args[0])
    e.delete_range(*args)
    for k in [k for k in model if args[0] <= k < args[1]]:
        del model[k]
    return []


def _check(model: dict, e: ToruaEngine, op: tuple, path_factory) -> ToruaEngine:
    """Run one read against the engine and the model; returns the
    engine to continue with (``checkpoint`` swaps in the restored one)."""
    name, *args = op
    if name == "get":
        assert e.get(args[0]) == model.get(args[0]), op
    elif name == "multi_get":
        assert e.multi_get(args[0]) == {k: model[k] for k in args[0] if k in model}, op
    elif name == "scan":
        start, end, hint = args
        want = sorted(k for k in model if start <= k < end
                      and (hint is None or fnv_py(k) % 4 in hint))
        assert e.scan(start, end, shard_hint=hint) == want, op
    elif name == "list_keys":
        assert sorted(e.list_keys()) == sorted(model), op
    elif name == "stats":
        want: dict = {}
        for k, v in model.items():
            size = len(v.encode() if isinstance(v, str) else v)
            keys, total = want.get(fnv_py(k) % 4, (0, 0))
            want[fnv_py(k) % 4] = (keys + 1, total + size)
        got = {r["shard_id"]: (r["keys"], r["bytes"]) for r in e.stats().collect()}
        assert got == want, op
    elif name == "dataframe":
        rows = sorted((r["key"], r["value"]) for r in e.dataframe().collect())
        assert rows == sorted(model.items()), op
    else:
        path = str(path_factory.mktemp("kv"))
        e.checkpoint_to(path)
        e = ToruaEngine.restore_from(e.spark, path, value_type=e.value_type)
    return e


@pytest.mark.parametrize("value_type", ["string", "binary"])
@settings(max_examples=10, deadline=None)
@given(data=st.data())
def test_engine_matches_dict_model(spark, tmp_path_factory, value_type, data):
    """Random put/put_many/delete/delete_range sequences (0-30
    mutations, so 0-3 flushes) with reads between them, checked
    against a dict under last-writer-wins upsert. The engine starts
    from a base relation, optionally in the compact_for_serving
    layout, so both flush paths run; reads see pending writes,
    flushed writes and, after ``checkpoint``, a restored engine."""
    mutations, reads = _ops(VALUES[value_type])
    base = data.draw(st.dictionaries(KEYS, VALUES[value_type], max_size=6), label="base")
    e = ToruaEngine(spark, local_df(spark, list(base.items()),
                                    f"key string, value {value_type}"),
                    value_type=value_type)
    if data.draw(st.booleans(), label="serving"):
        e.compact_for_serving()
    model, seen = dict(base), set(base)
    n = data.draw(st.integers(0, 30), label="mutations")
    for step in range(n + 1):
        for op in data.draw(st.lists(reads, max_size=2), label="reads"):
            e = _check(model, e, op, tmp_path_factory)
        if step < n:
            seen.update(_apply(model, e, data.draw(mutations, label="mutation")))
    # every key ever written, read back while the last writes are pending
    assert e.scan("", "\uffff") == sorted(model)
    assert e.multi_get(sorted(seen)) == {k: model[k] for k in seen if k in model}
    assert sorted(e.list_keys()) == sorted(model)
