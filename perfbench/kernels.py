"""Kernel throughput outside Spark, on seeded payloads.

Each timing runs the kernel in this process, measures the calling
thread's CPU time (so neither the sampler thread nor the idle JVM
counts), and checks the round trip or decode before it reports a
number. A timing repeats the call until it has used ``min_cpu_s`` of
CPU and reports the median rate of the repeats.
"""

from __future__ import annotations

import statistics
import time

import numpy as np


class KernelCheckError(AssertionError):
    """A kernel returned a wrong result on its benchmark payload."""


def _rate(fn, units: float, min_cpu_s: float) -> float:
    rates = []
    spent = 0.0
    while spent < min_cpu_s or len(rates) < 3:
        t0 = time.thread_time()
        fn()
        dt = max(time.thread_time() - t0, 1e-9)
        spent += dt
        rates.append(units / dt)
    return statistics.median(rates)


def text_payload(seed: int, n_bytes: int) -> bytes:
    """Word-salad text: compressible the way the docs corpus is."""
    rng = np.random.default_rng(seed)
    vocab = [bytes(rng.integers(97, 123, size=int(k)).astype(np.uint8))
             for k in rng.integers(2, 10, size=512)]
    words = rng.zipf(1.3, size=n_bytes // 3) % len(vocab)
    return b" ".join(vocab[w] for w in words)[:n_bytes]


def block_image(seed: int, side: int) -> np.ndarray:
    """Block-constant greyscale image: the from-spec JPEG path decodes
    it bit-exactly (operators/jpeg.py)."""
    rng = np.random.default_rng(seed)
    blocks = rng.integers(0, 256, size=(side // 8, side // 8), dtype=np.uint8)
    return np.kron(blocks, np.ones((8, 8), dtype=np.uint8))


def zstd_rates(seed: int, n_bytes: int, min_cpu_s: float) -> dict:
    from modeltracking_spark.operators.zstd import zstd_compress, zstd_decompress

    data = text_payload(seed, n_bytes)
    frame = zstd_compress(data)
    if zstd_decompress(frame) != data:
        raise KernelCheckError("zstd round trip changed the payload")
    mb = len(data) / 2**20
    return {
        "operators.zstd_compress_mbps": _rate(
            lambda: zstd_compress(data), mb, min_cpu_s),
        "operators.zstd_decompress_mbps": _rate(
            lambda: zstd_decompress(frame), mb, min_cpu_s),
    }


def jpeg_rate(seed: int, side: int, min_cpu_s: float) -> dict:
    from modeltracking_spark.operators.jpeg import decode_jpeg, encode_jpeg_gray

    img = block_image(seed, side)
    data = encode_jpeg_gray(img)
    if not np.array_equal(decode_jpeg(data), img):
        raise KernelCheckError("JPEG decode differs from the encoded image")
    # rate in decoded pixel bytes
    return {"operators.decode_jpeg_mbps": _rate(
        lambda: decode_jpeg(data), img.nbytes / 2**20, min_cpu_s)}


def grid_read_rate(inp, min_cpu_s: float) -> dict:
    """Rows per CPU second of ``HycomGridReader.read`` over every time
    step of the generated grid file."""
    from pyspark.sql.datasource import InputPartition

    from modeltracking_spark.sources.grid_source import HycomGridReader

    reader = HycomGridReader({"path": inp.grid_path})
    n_time = inp.shape.n_time
    for t in range(n_time):
        (batch,) = reader.read(InputPartition(t))
        got = batch.column("water_temp").to_numpy()
        if not np.array_equal(got, inp.water_temp[t].ravel()):
            raise KernelCheckError(f"grid time step {t} read back wrong")
    rows = n_time * int(np.prod(inp.water_temp.shape[1:]))

    def read_all():
        for t in range(n_time):
            for _ in reader.read(InputPartition(t)):
                pass

    return {"sources.grid_read_rows_per_s": _rate(read_all, rows, min_cpu_s)}
