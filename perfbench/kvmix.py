"""The ``kv_serving`` client: a seeded op mix and the model it is
checked against.

Ops come in blocks of 52 with an exact mix: 31 ``get``, 5
``multi_get`` of 16 keys, 5 ``scan`` of about 100 keys, 3 ``route``,
6 ``put`` and 2 ``delete`` (60/10/10/6/11/4 %), shuffled by the seed,
with keys drawn uniformly from the order keys. Each block holds eight
mutations, the engine's compaction interval, so every block pays for
exactly one compaction and every seed does the same write work.

``Model`` is a plain dict under last-writer-wins upsert and idempotent
delete, plus a sorted key list for ``[start, end)`` scans; routing is
FNV-1a 32-bit modulo the shard count, node by round robin.
"""

from __future__ import annotations

import bisect
import random

N_KEYS = 150_000
BLOCK = (("get", 31), ("multi_get", 5), ("scan", 5), ("route", 3),
         ("put", 6), ("delete", 2))
OPS_PER_BLOCK = sum(n for _, n in BLOCK)
WRITES = {"put", "delete"}
MULTI_GET_KEYS = 16
SCAN_KEYS = 100


def key(i: int) -> str:
    return f"k{i:09d}"


def ops(seed: int, n_keys: int = N_KEYS):
    """Endless op stream: (op, args) tuples, block by block, over keys
    ``key(0)`` .. ``key(n_keys - 1)``."""
    rng = random.Random(seed)
    serial = 0
    while True:
        block = [name for name, n in BLOCK for _ in range(n)]
        rng.shuffle(block)
        for name in block:
            k = rng.randrange(n_keys)
            if name == "multi_get":
                args = ([key(rng.randrange(n_keys)) for _ in range(MULTI_GET_KEYS)],)
            elif name == "scan":
                args = (key(k), key(k + SCAN_KEYS))
            elif name == "put":
                serial += 1
                args = (key(k), f"v{seed}.{serial}")
            else:
                args = (key(k),)
            yield name, args


def warmup_ops(seed: int, n_keys: int = N_KEYS) -> list[tuple[str, tuple]]:
    """One op of each read kind, for a warm-up that compiles the read
    paths without mutating the state, so that the timed blocks keep
    exactly one compaction each."""
    first: dict[str, tuple] = {}
    for name, args in ops(seed + 1, n_keys):
        if name not in WRITES:
            first.setdefault(name, args)
        if len(first) == len(BLOCK) - len(WRITES):
            return list(first.items())


def fnv1a32(s: str) -> int:
    h = 2166136261
    for b in s.encode():
        h = ((h ^ b) * 16777619) % 2**32
    return h


class Model:
    def __init__(self, items: dict[str, str], num_shards: int, nodes: list[str]):
        self.kv = dict(items)
        self.keys = sorted(self.kv)
        self.num_shards = num_shards
        self.nodes = nodes

    def put(self, k: str, v: str) -> None:
        if k not in self.kv:
            bisect.insort(self.keys, k)
        self.kv[k] = v

    def delete(self, k: str) -> None:
        if self.kv.pop(k, None) is not None:
            del self.keys[bisect.bisect_left(self.keys, k)]

    def get(self, k: str):
        return self.kv.get(k)

    def multi_get(self, keys: list[str]) -> dict[str, str]:
        return {k: self.kv[k] for k in keys if k in self.kv}

    def scan(self, start: str, end: str) -> list[str]:
        return self.keys[bisect.bisect_left(self.keys, start):bisect.bisect_left(self.keys, end)]

    def route(self, k: str) -> tuple[int, str]:
        shard = fnv1a32(k) % self.num_shards
        return shard, self.nodes[shard % len(self.nodes)]
