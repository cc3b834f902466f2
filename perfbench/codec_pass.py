"""In-process replay of the codec layer over a store's chunk payloads.

Executor-side code cannot be patched from the driver (plc is shipped to the
Python workers as a zip), so the chunk, kernels and fsst layers are measured
here instead: every stored payload is unpacked, packed again and unpacked
again in this process, with spans around plc.chunk, plc.kernels and
plc.fsst calls. The pass doubles as a correctness gate (the second unpack
must equal the first in values and types) and counts the codec each stored
column frame carries, read straight from the chunk header.
"""

from __future__ import annotations

import glob
import os
import struct
import time

KERNELS = ("bitpack", "bitunpack", "rle_hybrid_encode", "rle_hybrid_decode",
           "for_encode", "for_decode")
FSST = (("train", "train"), ("fsst_encode", "encode"),
        ("fsst_decode", "decode"))
# top-level frame codecs a doc_id/tokens/n_tok/source column can carry;
# anything else is counted under "other"
CODECS = ("plain", "for", "rle", "dict", "zstd", "string", "list", "forbp",
          "delta")


def frame_codecs(blob, names: list[str]) -> list[tuple[str, str]]:
    """(column, codec name) of every frame in one chunk blob, parsed from
    the container header documented in plc/chunk.py."""
    buf = memoryview(blob)
    _, _, ncols = struct.unpack_from("<BIB", buf, 4)
    pos, out = 10, []
    for _ in range(ncols):
        (nlen,) = struct.unpack_from("<H", buf, pos)
        name = bytes(buf[pos + 2:pos + 2 + nlen]).decode()
        pos += 2 + nlen
        (flen,) = struct.unpack_from("<Q", buf, pos)
        pos += 12
        out.append((name, names[buf[pos]]))
        pos += flen
    return out


def _same(a, b) -> bool:
    return a.schema.equals(b.schema) and all(
        x.type == y.type and x.equals(y) for x, y in zip(a.columns, b.columns))


def run(tracer, store: str) -> dict:
    """Replay every chunk of ``store``. Returns layer totals, codec counts
    and the number of chunks whose round trip was not identical."""
    import pyarrow.parquet as pq

    from plc import chunk, fsst, kernels

    for fn in KERNELS:
        tracer.wrap(kernels, fn, f"kernels.{fn}")
    for fn, short in FSST:
        tracer.wrap(fsst, fn, f"fsst.{short}")
    counts: dict[tuple[str, str], int] = {}
    raw = n_chunks = bad = 0
    unpack_cpu = pack_cpu = stats_s = 0.0
    files = sorted(glob.glob(os.path.join(store, "data", "part_id=*",
                                          "*.parquet")))
    try:
        with tracer.operation("codec_pass", -1) as root:
            for f in files:
                cfg = chunk.EncodeConfig()  # one per part, like a task
                tbl = pq.read_table(f, columns=["payload", "raw_bytes"])
                raw += sum(tbl.column("raw_bytes").to_pylist())
                for p in tbl.column("payload").chunks:
                    for i in range(len(p)):
                        blob = p[i].as_buffer()
                        for key in frame_codecs(blob, chunk.CODEC_NAMES):
                            counts[key] = counts.get(key, 0) + 1
                        c0 = time.process_time()
                        rb = chunk.unpack_chunk(blob)
                        c1 = time.process_time()
                        blob2, _ = chunk.pack_chunk(rb, cfg)
                        c2 = time.process_time()
                        chunk.column_stats(rb)
                        c3 = time.process_time()
                        unpack_cpu += c1 - c0
                        pack_cpu += c2 - c1
                        stats_s += c3 - c2
                        bad += not _same(rb, chunk.unpack_chunk(blob2))
                        n_chunks += 1
    finally:
        tracer.restore()
    kids = tracer.children()
    spans = tracer.totals(root, kids)
    return {"chunks": n_chunks, "raw_bytes": raw, "mismatched_chunks": bad,
            "unpack_cpu_s": unpack_cpu, "pack_cpu_s": pack_cpu,
            "stats_s": stats_s, "codec_counts": counts, "spans": spans}


def layer_metrics(res: dict) -> dict:
    """The pass's per-layer metrics, keyed as BENCHMARK.json names them."""
    gb = res["raw_bytes"] / 1e9
    m = {"chunk.unpack.gbps_per_core":
         gb / res["unpack_cpu_s"] if res["unpack_cpu_s"] else 0.0,
         "chunk.pack.gbps_per_core":
         gb / res["pack_cpu_s"] if res["pack_cpu_s"] else 0.0,
         "chunk.stats.s": res["stats_s"]}
    per_codec = dict.fromkeys(CODECS + ("other",), 0)
    for (_, codec), n in res["codec_counts"].items():
        per_codec[codec if codec in per_codec else "other"] += n
    for codec, n in per_codec.items():
        m[f"chunk.codec.{codec}.planes"] = n
    spans = res["spans"]
    for fn in KERNELS:
        s = spans.get(f"kernels.{fn}", {"calls": 0, "self_s": 0.0})
        m[f"kernels.{fn}.calls"] = s["calls"]
        m[f"kernels.{fn}.s"] = s["self_s"]
    for _, short in FSST:
        m[f"fsst.{short}.s"] = spans.get(f"fsst.{short}",
                                         {"self_s": 0.0})["self_s"]
    return m
