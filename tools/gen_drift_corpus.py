#!/usr/bin/env python3
"""Builds a drift-witness corpus from a fuzz corpus: the embeddings
tail (vec_id >= the q143/q145 9/10 cut) becomes a MULTI-MODAL shifted
population -- 8 sub-clusters, sub-cluster j shifted by +SHIFT on the
8-dim block [8j, 8j+8) only. A single uniform shift is too easy: the
whole delta collapses into ONE frozen cell, that cell is always
probed, and recall survives at inflated scan cost (measured). Eight
orthogonal modes scatter each mode's members across frozen cells by
their unshifted dims, which is what actually breaks a frozen
quantizer's probe. Only embeddings.parquet is written --
q145 reads nothing else.

With modes=1 the shift is UNIMODAL — +shift on ALL dims for the whole
delta (the SCALE.md 10.2 giant-cell pathology: the delta collapses
into ONE frozen cell; the q156 repair witness runs on this shape).

  python3 tools/gen_drift_corpus.py <srcDir> <dstDir> [shift=5.0] [modes=8]
"""
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def main(src: str, dst: str, shift: float, modes: int = 8) -> None:
    t = pq.read_table(os.path.join(src, "embeddings.parquet"))
    ids = t.column("vec_id").to_pylist()
    embs = t.column("embedding").to_pylist()
    labels = t.column("label").to_pylist()
    cut = (max(ids) + 1) * 9 // 10
    n_delta = sum(1 for i in ids if i >= cut)

    def mode(i: int) -> int:
        return (i - cut) * modes // n_delta

    if modes == 1:
        shifted = [[v + shift for v in e] if i >= cut else e
                   for i, e in zip(ids, embs)]
    else:
        shifted = [[v + shift if 8 * mode(i) <= d < 8 * (mode(i) + 1) else v
                    for d, v in enumerate(e)] if i >= cut else e
                   for i, e in zip(ids, embs)]
    os.makedirs(dst, exist_ok=True)
    out = pa.table(
        {"vec_id": ids, "embedding": shifted, "label": labels},
        schema=pa.schema([("vec_id", pa.int64()),
                          ("embedding", pa.list_(pa.float32())),
                          ("label", t.schema.field("label").type)]))
    pq.write_table(out, os.path.join(dst, "embeddings.parquet"))
    print(f"[gen_drift_corpus] {src} -> {dst} "
          f"(n={len(ids)}, cut={cut}, shift=+{shift})")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         float(sys.argv[3]) if len(sys.argv) > 3 else 5.0,
         int(sys.argv[4]) if len(sys.argv) > 4 else 8)
