"""Direct probe of the ``sources`` layer, without Spark.

Calls the public SSTable functions in-process so their cost shows
without scheduling or Python-worker overhead:

- ``convert.write_snapshot`` of one seeded table with compression
  None, deflate and lz4 (writer rows/s), then a full
  ``SSTableDataSourceReader.partitions``/``read`` scan of each into
  Arrow (scan rows/s per codec);
- the same full read over each fixture snapshot a workload scans;
- ``pushFilters`` + ``partitions`` planning for seeded point lookups
  and key ranges;
- ``zlib`` / ``lz4_block`` / ``snappy_block`` decompression of
  chunk-sized buffers cut from an uncompressed Data.db file.

The seed picks the table's keys and values, the partition read order
and the sampled keys and ranges.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import statistics
import time
import zlib

import numpy as np
import pyarrow as pa

CODECS = (None, "deflate", "lz4")
PROBE_ROWS = 8_000
PLAN_SAMPLES = 5
CHUNKS = 8
REPEATS = 3  # each timed read or decode is the median of this many


def _codec_name(codec: str | None) -> str:
    return codec or "none"


def _rows(batch) -> int:
    return batch.num_rows if hasattr(batch, "num_rows") else 1


def read_all(path: str, rng: random.Random) -> tuple[int, float]:
    """Rows read by a full direct read of ``path`` and the median
    seconds of REPEATS such reads."""
    from cassowary_spark.sources.sstable_datasource import SSTableDataSourceReader

    secs = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        reader = SSTableDataSourceReader({"path": path}, None)
        parts = reader.partitions()
        rng.shuffle(parts)
        rows = sum(_rows(b) for part in parts for b in reader.read(part))
        secs.append(time.perf_counter() - t0)
    return rows, statistics.median(secs)


def _probe_table(rng: np.random.Generator) -> pa.Table:
    keys = rng.choice(PROBE_ROWS * 4, PROBE_ROWS, replace=False)
    return pa.table({
        "k": pa.array(keys, pa.int64()),
        "qty": pa.array(rng.integers(0, 1000, PROBE_ROWS), pa.int32()),
        "price": pa.array(np.round(rng.uniform(0, 1e5, PROBE_ROWS), 2)),
        "tag": pa.array([f"tag-{int(x)}" for x in rng.integers(0, 500, PROBE_ROWS)]),
    })


def _plan_s(path: str, filters_for, rng: random.Random) -> list[float]:
    from cassowary_spark.sources.sstable_datasource import SSTableDataSourceReader

    out = []
    for _ in range(PLAN_SAMPLES):
        filters = filters_for(rng)
        t0 = time.perf_counter()
        reader = SSTableDataSourceReader({"path": path}, None)
        list(reader.pushFilters(filters))
        reader.partitions()
        out.append(time.perf_counter() - t0)
    return out


def _chunk_rates(data_file: str) -> dict[str, float]:
    from cassowary_spark.sources import lz4_block, snappy_block
    from cassowary_spark.sources.sstable_format import DEFAULT_CHUNK_LEN

    with open(data_file, "rb") as f:
        raw = f.read(DEFAULT_CHUNK_LEN * CHUNKS)
    chunks = [raw[i:i + DEFAULT_CHUNK_LEN] for i in range(0, len(raw), DEFAULT_CHUNK_LEN)]
    mb = len(raw) / (1024.0 * 1024.0)
    codecs = {
        "deflate": ([zlib.compress(c, 6) for c in chunks], lambda p, n: zlib.decompress(p)),
        "lz4": ([lz4_block.compress(c) for c in chunks], lz4_block.decompress),
        # snappy_block.compress writes literal-only streams, so this
        # rate covers the decoder's literal path, not back-references
        "snappy": ([snappy_block.compress(c) for c in chunks], lambda p, n: snappy_block.decompress(p)),
    }
    rates = {}
    for name, (packed, decompress) in codecs.items():
        secs = []
        for _ in range(REPEATS):
            t0 = time.perf_counter()
            for p, c in zip(packed, chunks):
                if decompress(p, len(c)) != c:
                    raise RuntimeError(f"{name} round trip changed a chunk")
            secs.append(time.perf_counter() - t0)
        rates[name] = mb / statistics.median(secs)
    return rates


def run(work_dir: str, snapshots: dict[str, str], seed: int) -> dict[str, float]:
    """Per-layer ``sources.*`` metrics; ``snapshots`` maps a name to a
    fixture snapshot directory to read in full."""
    from pyspark.sql.datasource import GreaterThanOrEqual, In, LessThan

    from cassowary_spark.sources.convert import write_snapshot

    rng = random.Random(seed)
    table = _probe_table(np.random.default_rng(seed))
    shutil.rmtree(work_dir, ignore_errors=True)
    out: dict[str, float] = {}
    write_s = []
    for codec in CODECS:
        path = os.path.join(work_dir, _codec_name(codec))
        t0 = time.perf_counter()
        write_snapshot(table, path, "k", keyspace="pb", name="probe", compression=codec)
        write_s.append(time.perf_counter() - t0)
        rows, secs = read_all(path, rng)
        if rows != PROBE_ROWS:
            raise RuntimeError(f"probe scan ({_codec_name(codec)}) read {rows} of {PROBE_ROWS} rows")
        out[f"sources.scan_rows_per_s.{_codec_name(codec)}"] = rows / secs
    out["sources.write_rows_per_s"] = PROBE_ROWS / statistics.median(write_s)

    for name, path in snapshots.items():
        rows, secs = read_all(path, rng)
        out[f"sources.read_rows_per_s.{name}"] = rows / secs

    keys = table.column("k").to_pylist()
    lo_key, hi_key = min(keys), max(keys)

    def point(r: random.Random):
        return [In(("k",), tuple(r.sample(keys, 8)))]

    def key_range(r: random.Random):
        lo = r.randint(lo_key, hi_key)
        return [GreaterThanOrEqual(("k",), lo), LessThan(("k",), lo + (hi_key - lo_key) // 10)]

    deflate = os.path.join(work_dir, "deflate")
    out["sources.plan_s"] = statistics.median(
        _plan_s(deflate, point, rng) + _plan_s(deflate, key_range, rng)
    )
    data_file = glob.glob(os.path.join(work_dir, "none", "*-Data.db"))[0]
    for name, rate in _chunk_rates(data_file).items():
        out[f"sources.chunk_mb_per_s.{name}"] = rate
    return out
