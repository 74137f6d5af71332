"""Workload definitions and the seeded input generator.

A workload is an archetype mix over ``fixtures.conversation_rows`` plus the
number of output buckets it is run with. Inputs depend only on the
workload and the seed. They are generated in a small spawn pool, together
with the expected per-turn digests from ``oracle.extract_one``, and cached
under the benchmark's state directory keyed by workload and seed.
"""

from __future__ import annotations

import gc
import multiprocessing as mp
import os
import shutil
from dataclasses import dataclass
from multiprocessing import resource_tracker
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import digest

TRANSCRIPTS_PA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class Workload:
    name: str
    n_convs: int
    # None keeps the fixture default mix (fixtures.ARCHETYPES)
    mix: tuple[tuple[str, float], ...] | None
    n_buckets: int


# Poison turns that the sniffer routes to the plain lane: empty, null,
# a >100k-char megarow and control characters. The fixture poison mix also
# has truncated html, a fake pdf and a corrupt zip, which would leave the
# pyarrow-compute lane. The megarow keeps the same 1-in-7 share of poison
# as the fixture mix.
_PLAIN_POISON = ("empty", "null", "megarow", "ctrl", "empty", "null", "ctrl")


def _plain_lane_poison(rng) -> str | None:
    from tika_addons_spark import fixtures

    kind = _PLAIN_POISON[int(rng.randint(0, len(_PLAIN_POISON)))]
    if kind == "empty":
        return ""
    if kind == "null":
        return None
    if kind == "megarow":
        return "megarow " + fixtures._sentence(rng, 30000)
    return "ctrl\x00chars\tand\rrets\nhere"


WORKLOADS = {
    w.name: w
    for w in (
        Workload("mixed", n_convs=2000, mix=None, n_buckets=32),
        Workload(
            "plain_bulk",
            n_convs=5000,
            mix=(("plain", 0.80), ("noisy", 0.15), ("plain_poison", 0.05)),
            n_buckets=32,
        ),
    )
}


def _generate_chunk(args: tuple) -> tuple[pa.Table, list[tuple[str, int, bytes]]]:
    """Rows of conversations [c0, c1) and their oracle digests."""
    c0, c1, seed, mix = args
    from tika_addons_spark import fixtures, oracle

    with mock.patch.object(fixtures, "ARCHETYPES", list(mix or fixtures.ARCHETYPES)), \
            mock.patch.dict(fixtures._GEN, {"plain_poison": _plain_lane_poison}):
        rows = [r for c in range(c0, c1) for r in fixtures.conversation_rows(c, seed=seed)]
    expected = []
    for r in rows:
        out = oracle.extract_one(r["text"])
        expected.append(
            (r["conv_id"], r["turn_idx"], digest.row_hash(
                r["conv_id"], r["turn_idx"], out["extracted_text"],
                out["parse_status"], out["detected_content_type"],
            ))
        )
    table = pa.Table.from_pylist(rows, schema=TRANSCRIPTS_PA)
    return table, expected


def _map_in_pool(fn, items: list, procs: int) -> list:
    """``map`` over a spawn pool; stops every process the pool started,
    the multiprocessing resource tracker included, before returning."""
    with mp.get_context("spawn").Pool(procs) as pool:
        out = pool.map(fn, items)
    del pool
    gc.collect()  # release the pool's semaphores before the tracker stops
    stop_tracker = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop_tracker is not None:
        stop_tracker()
    return out


def generate(workload: Workload, seed: int, cache_dir: str, procs: int) -> tuple[str, str]:
    """Write (or reuse) the workload's input and expected digests; returns
    (transcripts parquet path, expected-digest parquet path)."""
    d = os.path.join(cache_dir, f"{workload.name}-s{seed}")
    src = os.path.join(d, "transcripts.parquet")
    exp = os.path.join(d, "expected.parquet")
    if os.path.exists(exp):
        return src, exp
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    n_chunks = max(procs * 4, 1)
    step = -(-workload.n_convs // n_chunks)
    chunks = [
        (c, min(c + step, workload.n_convs), seed, workload.mix)
        for c in range(0, workload.n_convs, step)
    ]
    parts = _map_in_pool(_generate_chunk, chunks, procs)
    pq.write_table(
        pa.concat_tables([t for t, _ in parts]), os.path.join(tmp, "transcripts.parquet")
    )
    digest.write_expected(
        [e for _, part in parts for e in part], os.path.join(tmp, "expected.parquet")
    )
    os.rename(tmp, d)
    return src, exp
