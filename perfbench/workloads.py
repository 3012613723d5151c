"""The benchmark's workloads and the seeded input generator.

Every workload is a closed loop with one client: the next query starts
only after the previous one has returned. A *pass* is one call of every
workload query, in an order drawn from the run's seed, so each pass does
the same work whatever the seed and only the order changes.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow.compute as pc
import pyarrow.parquet as pq


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # stream workloads replay `events` as seeded drop files
    stream: bool = False
    # queries that have a vectorized mapInArrow fast path
    kernel_queries: frozenset[str] = frozenset()


# Why each workload exists and what it stresses: BENCHMARK.json and
# perfbench/README.md. relational_interactive is for manual runs only.
WORKLOADS = {
    w.name: w for w in (
        Workload(
            "relational_interactive",
            ("q_tpch_q05", "q_join_broadcast", "q_join_multiway",
             "q_join_asof", "q_window_rank", "q_subquery_scalar"),
        ),
        Workload(
            "llm_curation",
            ("q_dedup_cosine", "q_embed_cov", "q_dedup_clusters"),
            kernel_queries=frozenset(
                {"q_dedup_cosine", "q_embed_cov", "q_dedup_clusters"}),
        ),
        Workload(
            "stream_replay",
            ("q_stream_hourly_counts", "q_stream_dedup"),
            stream=True,
        ),
    )
}

# Drop files per stream replay: each becomes one micro-batch through the
# engine's `sigma.stream.max_files_per_trigger` seam.
STREAM_FILES = 2
STREAM_FILES_PREFIX = "events_"


def pass_order(workload: Workload, rng: random.Random) -> list[str]:
    """One pass: every workload query once, in a seeded order."""
    order = list(workload.queries)
    rng.shuffle(order)
    return order


def chop_points(n_rows: int, n_files: int, rng: random.Random) -> list[int]:
    """Seeded row offsets splitting ``n_rows`` into ``n_files`` chunks.

    Each cut is drawn within a quarter chunk of the even split, so every
    file holds between half and one and a half even chunks: the seed
    moves the boundaries without starving a micro-batch."""
    step = n_rows / n_files
    cuts = [round(i * step + rng.uniform(-0.25, 0.25) * step)
            for i in range(1, n_files)]
    return [0, *cuts, n_rows]


def make_stream_inputs(sf_dir: str, out_dir: str, tables: tuple[str, ...],
                       rng: random.Random,
                       n_files: int = STREAM_FILES) -> int:
    """Write ``events`` as ts-ordered drop files into ``out_dir``.

    The rows are sorted by (ts, event_id) and cut at seeded points; the
    files get strictly increasing mtimes, because the file source orders
    a backlog by modification time. Every other table is linked, so the
    directory is a complete sf_dir. Returns the number of event rows."""
    os.makedirs(out_dir)
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    events = events.take(pc.sort_indices(
        events, [("ts", "ascending"), ("event_id", "ascending")]))
    bounds = chop_points(events.num_rows, n_files, rng)
    base = int(os.path.getmtime(out_dir)) - n_files
    for i in range(n_files):
        path = os.path.join(out_dir, f"{STREAM_FILES_PREFIX}{i:03d}.parquet")
        pq.write_table(events.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       path)
        os.utime(path, (base + i, base + i))
    for t in tables:
        if t != "events":
            os.symlink(os.path.abspath(os.path.join(sf_dir, f"{t}.parquet")),
                       os.path.join(out_dir, f"{t}.parquet"))
    return events.num_rows
