#!/usr/bin/env python3
"""Skewed-shingle corpus for the q103 pair-generation skew witness
(VERDICT r19 next-round #7, guide §2.5).

Every document starts with the SAME 5-token run ("h0 h1 h2 h3 h4"), so
three 3-gram shingles are corpus-HOT (df = n_docs, astronomically past
the df <= 50 rare cap), followed by doc-unique filler tokens
("t<id>a" ...) whose shingles have df = 1. The r19 pair generation
collect_list'ed a hot shingle's ENTIRE posting list into one
aggregation buffer before the cap could drop it — at n_docs = millions
that is hundreds of MB on one reduce task per hot sid; the r20
CappedCollect drops hot keys with O(cap) state on every path. Output
sets are identical (hot keys never produce pairs either way; fillers
are df = 1, so the witness corpus yields ZERO pairs — all the measured
work is posting aggregation, exactly the stage under test).

    python3 tools/gen_skew_corpus.py 43 /tmp/skew103 4000000

A same-box A/B of two jars on it (the `evidence/r20/skew103_ab.log`
witness):

    SPARK_GRAFT_SF_DIR=/tmp/skew103 sh tools/ab.sh JAR_A JAR_B q103_shingle_cosine
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def main(seed: int, outdir: str, n_docs: int) -> None:
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(seed)
    chunk = 500_000
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    writer = pq.ParquetWriter(f"{outdir}/documents.parquet", schema)
    done = 0
    hot = "h0 h1 h2 h3 h4"
    while done < n_docs:
        m = min(chunk, n_docs - done)
        ids = np.arange(done, done + m, dtype=np.int64)
        texts = [f"{hot} t{i}a t{i}b t{i}c t{i}d t{i}e t{i}f" for i in ids]
        t = pa.Table.from_arrays(
            [pa.array(ids), pa.array(texts),
             pa.array(["en"] * m), pa.array(["web"] * m),
             pa.array(np.array([len(s) for s in texts], dtype=np.int64))],
            schema=schema)
        writer.write_table(t, row_group_size=m)
        done += m
        print(f"[gen_skew_corpus] {done}/{n_docs}", flush=True)
    writer.close()


if __name__ == "__main__":
    main(int(sys.argv[1]), sys.argv[2], int(sys.argv[3]))
