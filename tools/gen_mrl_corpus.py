#!/usr/bin/env python3
"""Builds a STRUCTURED-PREFIX (matryoshka/MRL-like) embedding corpus
from a fuzz corpus: dims [0, prefix) keep their scale, dims
[prefix, 64) are shrunk so the prefix block carries `share` of the
total variance (default 85%). This is the fixture the q151 claim
("on MRL-trained embeddings, whose prefixes carry the signal by
construction, the probe boost retunes toward 1") is measured on —
the r15 witnesses only had UNSTRUCTURED embeddings, where a 16-dim
prefix holds 16/64 = 25% of the signal and boost=4 was the knee.

With per-dim iid variance in the source, scaling the 48 tail dims by
beta makes the prefix share p = 16 / (16 + 48*beta^2); solving for
share=0.85 gives beta = sqrt(16*0.15 / (48*0.85)) ~= 0.2425. Only the
RELATIVE scale matters to both routing (prefix-only distances are
unchanged) and truth (full-dim rankings reweight toward the prefix),
which is exactly the MRL training objective's geometry.

Only embeddings.parquet is written — q151 reads nothing else.

  python3 tools/gen_mrl_corpus.py <srcDir> <dstDir> [share=0.85] [prefix=16]
"""
import math
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq


def main(src: str, dst: str, share: float, prefix: int) -> None:
    t = pq.read_table(os.path.join(src, "embeddings.parquet"))
    ids = t.column("vec_id").to_pylist()
    embs = t.column("embedding").to_pylist()
    labels = t.column("label").to_pylist()
    dim = len(embs[0])
    tail = dim - prefix
    beta = math.sqrt(prefix * (1.0 - share) / (tail * share))
    scaled = [[v if d < prefix else v * beta for d, v in enumerate(e)]
              for e in embs]
    os.makedirs(dst, exist_ok=True)
    out = pa.table(
        {"vec_id": ids, "embedding": scaled, "label": labels},
        schema=pa.schema([("vec_id", pa.int64()),
                          ("embedding", pa.list_(pa.float32())),
                          ("label", t.schema.field("label").type)]))
    pq.write_table(out, os.path.join(dst, "embeddings.parquet"))
    print(f"[gen_mrl_corpus] {src} -> {dst} (n={len(ids)}, dim={dim}, "
          f"prefix={prefix}, share={share}, tail_scale={beta:.4f})")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2],
         float(sys.argv[3]) if len(sys.argv) > 3 else 0.85,
         int(sys.argv[4]) if len(sys.argv) > 4 else 16)
