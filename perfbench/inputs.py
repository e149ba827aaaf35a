"""Seeded inputs: op order for ``headline`` and the block stream for ``backfill``.

Everything here is a pure function of the seed. The block stream is
generated by the orchestrator before the measured Spark process starts,
so neither generation time nor the generator's objects land in the
measured session.
"""

from __future__ import annotations

import json
import os
import random
from decimal import Decimal

# Backfill geometry. The file layout is the repository's own:
# ``streaming.pipeline.write_stream_source`` (behind the CLI's
# ``run``) range-partitions a stream into six height-ordered files,
# and ``run_pipeline`` reads two files per micro-batch, so one drain is
# three micro-batches plus the watermark batch. 2,000 blocks (~47 MB of
# JSON) is half the 4,000-block backfill the benchmark was sized from:
# generating 4,000 takes ~11 s, too much for a run of about a minute.
# Per-batch cost is then about two thirds of a drain, per-block cost
# about one third.
BACKFILL_BLOCKS = 2000
BACKFILL_FILES = 6
# Share of heights published a second time in a later file, as an
# at-least-once publisher re-delivers after a lost ack. No source gives a
# rate (the reference retries on publish errors without counting them);
# 5% is an assumption. It sets how many extra rows each drain parses and
# de-duplicates, not the batch count or the sink size.
REDELIVER_SHARE = 0.05


def op_order(names: tuple[str, ...], seed: int) -> list[str]:
    """The seed's permutation of ``names``."""
    return random.Random(f"order-{seed}").sample(list(names), len(names))


def _json_default(o):
    # gen_blocks draws every u128 balance as an integral Decimal; emitting
    # it as a JSON integer keeps all 34 digits for Spark's DECIMAL(38,0).
    if isinstance(o, Decimal):
        return int(o)
    raise TypeError(f"not JSON serializable: {type(o).__name__}")


def make_block_files(seed: int, n_blocks: int = BACKFILL_BLOCKS,
                     n_files: int = BACKFILL_FILES) -> dict:
    """Lay the seed's blocks out as ``n_files`` contiguous height ranges of
    near-equal size, one JSON-lines file each, with a seeded share of
    blocks re-delivered in a later file.

    Returns ``{"files": [[line, ...], ...], "heights": [...],
    "hashes": {height: block_hash}, "redelivered": n}``; nothing is
    written here.
    """
    from australis_indexer_spark.fixtures import gen_blocks

    blocks = gen_blocks(n_blocks, seed=seed)
    lines = [json.dumps(b, default=_json_default, separators=(",", ":"))
             for b in blocks]
    bounds = [i * n_blocks // n_files for i in range(n_files + 1)]
    files = [lines[bounds[i]:bounds[i + 1]] for i in range(n_files)]
    file_of = [i for i in range(n_files) for _ in range(bounds[i], bounds[i + 1])]
    rng = random.Random(f"redeliver-{seed}")
    # only blocks outside the last file have a later file to land in
    candidates = range(bounds[-2])
    redelivered = sorted(rng.sample(candidates, round(REDELIVER_SHARE * len(candidates))))
    for i in redelivered:
        files[rng.randrange(file_of[i] + 1, n_files)].append(lines[i])
    heights = [b["block"]["header"]["height"] for b in blocks]
    hashes = {b["block"]["header"]["height"]: b["block"]["header"]["hash"] for b in blocks}
    return {"files": files, "heights": heights, "hashes": hashes,
            "redelivered": len(redelivered)}


def write_block_files(stream: dict, src_dir: str) -> None:
    """Write the files with strictly increasing modification times: the
    file source drains oldest first, so mtime order is delivery order."""
    os.makedirs(src_dir, exist_ok=True)
    base = 1_600_000_000
    for i, lines in enumerate(stream["files"]):
        path = os.path.join(src_dir, f"part-{i:04d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (base + i, base + i))
