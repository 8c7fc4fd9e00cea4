"""Seeded benchmark inputs, generated once per (seed, size, dim) and cached.

    python3 perfbench/inputs.py --cache perfbench/_work/cache --size full 5:16 6:64

The measured run calls :func:`ensure_inputs`, which generates any missing
entry by running this module as a child process before the measured Spark
session starts.  Generation starts no JVM, so every measured run starts
from the same cold JVM whether its inputs were cached or not.

The rows are the package generator's: ``sources.generate_transcripts`` /
``generate_snapshots`` produce conversation ``i`` of a seed with
``sources.fixtures._conv_rows`` / ``_snap_rows`` inside a ``mapInPandas``,
and are byte-identical however they are partitioned.  This module calls the
same two row functions directly, conversation by conversation in conv_id
order, and stops at exactly ``turns`` turns, the last conversation kept as
a prefix of its turns: a fixed turn count keeps the throughput metric
comparable across seeds.  Conversation 0 is the mega conversation.
Snapshots are kept for the same conversations.  Each table is written as
:data:`N_FILES` parquet files with INT96 timestamps, as Spark writes them.

Each cache entry holds ``transcripts/``, ``snapshots/`` and ``meta.json``
(turn/conversation/byte counts).  Entries are built in a temporary
directory and renamed into place, so a killed run never leaves a
half-written entry.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

from pyspark.sql import Column
from pyspark.sql import functions as F

#: input sizes: "full" is the measured size, "tiny" the smoke-test size
SIZES = {
    "full": {"turns": 120_000, "mega_turns": 2_400},
    "tiny": {"turns": 3_000, "mega_turns": 300},
}
#: Zipf(1.5) turn-count clip, as in the package's generator default.
MAX_TURNS = 5000
#: parquet files per table: one scan task per core at local[4]
N_FILES = 4
#: cache entries kept (about 5 MB each at "full"); the least recently used
#: are deleted before new ones are built.  A ten-seed sweep of every
#: workload needs about 30.
CACHE_KEEP = 64


def checksum_expr() -> Column:
    """Order-free checksum of (conv_id, turn_idx, text): a byte change in any
    passed-through text changes it.  Summed as decimal so it cannot overflow."""
    return F.sum(F.xxhash64("conv_id", "turn_idx", "text")
                 .cast("decimal(38,0)")).cast("string")


def data_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under a parquet dir, skipping _/. entries."""
    files = size = 0
    for dirpath, dirnames, names in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for name in names:
            if not name.startswith(("_", ".")):
                files += 1
                size += os.stat(os.path.join(dirpath, name)).st_size
    return files, size


def _evict(cache_root: str, new: int) -> None:
    entries = sorted(
        (os.path.getmtime(os.path.join(cache_root, e)), e)
        for e in os.listdir(cache_root))
    for _, name in entries[:max(0, len(entries) - CACHE_KEEP + new)]:
        shutil.rmtree(os.path.join(cache_root, name), ignore_errors=True)


def _write(df, schema, path: str) -> None:
    """``df`` as N_FILES parquet files of consecutive rows, then _SUCCESS."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    step = -(-table.num_rows // N_FILES)
    os.makedirs(path)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       use_deprecated_int96_timestamps=True)
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _generate(dest: str, seed: int, turns: int, mega_turns: int,
              dim: int) -> dict:
    import pandas as pd
    import pyarrow as pa

    from featureextraction_jl_spark.sources.fixtures import (
        _conv_rows,
        _snap_rows,
    )

    convs, total = [], 0
    while total < turns:
        rows = _conv_rows(len(convs), seed, MAX_TURNS, mega_turns)
        convs.append(rows.iloc[:turns - total])
        total += len(convs[-1])
    tdir = os.path.join(dest, "transcripts")
    _write(pd.concat(convs, ignore_index=True), pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()), ("tool", pa.string()),
        ("ts", pa.timestamp("us"))]), tdir)
    snaps = [s for s in (_snap_rows(c, seed, dim) for c in range(len(convs)))
             if len(s)]
    sdir = os.path.join(dest, "snapshots")
    _write(pd.concat(snaps, ignore_index=True), pa.schema([
        ("conv_id", pa.string()), ("snapshot_ts", pa.timestamp("us")),
        ("snap_vec", pa.list_(pa.float64())), ("snap_score", pa.float64())]),
        sdir)
    return {
        "seed": seed,
        "turns": total,
        "conversations": len(convs),
        "mega_turns": mega_turns,
        "snap_dim": dim,
        "snapshot_rows": sum(len(s) for s in snaps),
        "input_bytes": data_bytes(tdir)[1] + data_bytes(sdir)[1],
    }


def _entry(cache_root: str, seed: int, dim: int, size: str) -> str:
    n = SIZES[size]
    return os.path.join(cache_root, f"seed{seed}_turns{n['turns']}"
                                    f"_mega{n['mega_turns']}_dim{dim}")


def _load(entry: str) -> dict | None:
    """The entry's metadata with absolute table paths; None if absent."""
    meta_path = os.path.join(entry, "meta.json")
    if not os.path.exists(meta_path):
        return None
    with open(meta_path) as f:
        meta = json.load(f)
    return {**meta, "transcripts": os.path.join(entry, "transcripts"),
            "snapshots": os.path.join(entry, "snapshots")}


def ensure_inputs(cache_root: str, needs: list[tuple[int, int]],
                  size: str) -> tuple[list[dict], bool]:
    """Cache entries for each (seed, dim) in ``needs``, in order, and
    whether any had to be generated (by this module, in a child process)."""
    entries = [_entry(cache_root, seed, dim, size) for seed, dim in needs]
    missing = [f"{seed}:{dim}" for (seed, dim), e in zip(needs, entries)
               if _load(e) is None]
    for e in entries:
        if os.path.isdir(e):
            os.utime(e)  # most recently used survives eviction
    if missing:
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--cache", cache_root, "--size", size, *missing],
                       check=True, stdout=sys.stderr)
    metas = [_load(e) for e in entries]
    if any(m is None for m in metas):
        raise RuntimeError(f"input generation left entries missing: {needs}")
    return metas, bool(missing)


def fixture_present(meta: dict) -> bool:
    """The set-up's presence check: both tables are complete parquet dirs."""
    return all(os.path.exists(os.path.join(meta[k], "_SUCCESS"))
               for k in ("transcripts", "snapshots"))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Generate benchmark inputs.")
    p.add_argument("--cache", required=True, help="cache root")
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    p.add_argument("needs", nargs="+", metavar="SEED:DIM")
    args = p.parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))

    todo = []
    for need in args.needs:
        seed, dim = (int(x) for x in need.split(":"))
        entry = _entry(args.cache, seed, dim, args.size)
        if _load(entry) is None:
            todo.append((seed, dim, entry))
    os.makedirs(args.cache, exist_ok=True)
    _evict(args.cache, len(todo))
    for seed, dim, entry in todo:
        tmp = f"{entry}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        meta = _generate(tmp, seed, dim=dim, **SIZES[args.size])
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        os.rename(tmp, entry)
    return 0


if __name__ == "__main__":
    sys.exit(main())
