"""Partition-width guard for CPU-heavy per-row kernels.

A narrow mapInPandas kernel inherits the scan's split count.  That is
the right default — no shuffle — but when the upstream source yielded
FEWER splits than the session's parallelism (a single local parquet
file, one fat .gz shard, a small slice read on a big cluster), the
whole decode tier serializes onto a handful of cores while the rest
idle.  ``widen_for_kernel`` repartitions round-robin up to the default
parallelism ONLY in that under-split case:

- at 100 TB the scan already carries orders of magnitude more splits
  than cores — the guard is a no-op and the kernel stays shuffle-free;
- on under-split inputs it pays one bounded exchange of exactly the
  kernel's input columns to unlock every core — the standard
  "repartition before expensive decode" move, made conditional so it
  never taxes the already-parallel case.

Plan posture is asserted in tests/test_scale_plans.py: kernels over
wide inputs show NO exchange; over under-split inputs exactly one
ROUND-ROBIN exchange and nothing else.

``codec_roundtrip_stats`` is the codec tier's single narrow-map
skeleton: every per-row encode -> from-spec decode -> (orig_len,
dec_md5, ok) kernel (lz4, snappy, bzip2, lzma, zstd, zstd-dict, xz,
xz-BCJ, brotli, zlib FDICT) runs through it, so the schema build,
payload coercion, md5/ok arithmetic and ``mapInPandas`` call live here
once. It keeps three conditions for every codec:

- set-up once per partition, on the executor — the codec factory runs
  inside the kernel, so ctypes bindings and parsed dictionaries are
  built where they are used and never pickled;
- encode over the whole Arrow batch — the encoder sees every row of a
  batch at once, so a codec that shells out (the xz CLI for the
  arm64/riscv BCJ filters) spawns one process per group per batch,
  not per row;
- the same plan shape — a single MapInPandas over the projected
  (id, payload) columns, with no exchange apart from the widen guard's
  round-robin.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame


def widen_for_kernel(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session default parallelism when
    (and only when) the input is under-split. Streaming inputs pass
    through untouched (no .rdd on a streaming plan; micro-batch
    parallelism is the source's concern)."""
    if df.isStreaming:
        return df
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            return df.repartition(target)
    except Exception:  # pragma: no cover - exotic plans: keep the input
        pass
    return df


def codec_roundtrip_stats(
    df: DataFrame,
    make_codec: Callable[[], tuple[Callable, Callable]],
    payload_col: str = "payload",
    id_col: str = "doc_id",
    extra: Sequence[tuple[str, str, Callable]] = (),
) -> DataFrame:
    """Per-row encode -> decode -> stats over ``(id_col, payload_col)``,
    Arrow-batched. A str payload is encoded as UTF-8, anything else is
    taken as bytes.

    ``make_codec()`` runs once per partition on the executor and returns
    ``(encode, decode)``: ``encode(ids, raws)`` maps a whole batch of
    ids and payload bytes to one encoded blob per row, and
    ``decode(blob)`` returns the decoded bytes. ``extra`` adds per-row
    columns ``(name, type name, fn(id, raw, blob))`` between
    ``orig_len`` and ``dec_md5``.

    Output: (id, orig_len, *extra, dec_md5, ok) with ``ok = dec == raw``
    — the compressed bytes never leave the kernel."""
    import hashlib

    from pyspark.sql.types import StructType

    schema = StructType().add(id_col, "long").add("orig_len", "long")
    for name, type_name, _ in extra:
        schema = schema.add(name, type_name)
    schema = schema.add("dec_md5", "string").add("ok", "boolean")

    def kernel(batches):
        import pandas as pd

        encode, decode = make_codec()
        for pdf in batches:
            ids = [int(did) for did in pdf[id_col]]
            raws = [
                text.encode("utf-8") if isinstance(text, str) else bytes(text)
                for text in pdf[payload_col]
            ]
            blobs = encode(ids, raws)
            cols = {id_col: ids, "orig_len": [len(raw) for raw in raws]}
            for name, _, fn in extra:
                cols[name] = [fn(*row) for row in zip(ids, raws, blobs)]
            md5s, oks = [], []
            for raw, blob in zip(raws, blobs):
                dec = decode(blob)
                md5s.append(hashlib.md5(dec).hexdigest())
                oks.append(dec == raw)
            cols["dec_md5"], cols["ok"] = md5s, oks
            yield pd.DataFrame(cols)

    return widen_for_kernel(df.select(id_col, payload_col)).mapInPandas(
        kernel, schema
    )
