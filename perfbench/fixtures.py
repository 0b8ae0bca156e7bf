"""Seeded fixtures for the benchmark and the answers its checks expect.

Everything the program under test reads is generated here from the
workload seed; the expected answers are computed from the same cells
in plain Python, independently of the code being measured.

Numbers are multiples of 1/4 below 10**6, so every sum of 4*x is an
exact integer in both Python and the JVM, and Java's Double.toString
prints them exactly as Python's repr does.
"""
import os
import random

SPREADSHEET_ID = "perfbench"

# Sheet layouts per workload: name -> sheetId.
SHEETS = {
    "sheet_read": {"Data": 0},
    "sheet_tail": {"Source": 0, "Summary": 1},
    "engine_mix": {"q60_ann_pq": 0, "q130_rrf_fusion": 1},
}

WORDS = ["alpha", "beta", "gamma", "delta", "omega", "sheet", "cell",
         "range", "value", "north", "south", "east", "west", "red", "blue"]

BLANK_SHARE = 0.05


def number_text(k):
    """Formatted value of the number k/4 as the Sheets API renders it."""
    return str(k // 4) if k % 4 == 0 else repr(k / 4)


def _string_cell(rng):
    r = rng.random()
    if r < 0.15:
        return str(rng.randrange(100000))          # numeric-looking text
    if r < 0.20:
        return rng.choice(("TRUE", "FALSE"))       # bool-looking text
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 3)))


def _trim(row):
    """The API omits trailing empty cells, so rows come back ragged."""
    n = len(row)
    while n and row[n - 1] == "":
        n -= 1
    return row[:n]


# ---- typed grids (read and tail) ------------------------------------

class GridSpec:
    """A sheet of one key column then numeric, boolean and string columns."""

    def __init__(self, n_keys, key_fmt, n_num, n_bool, n_str):
        self.n_keys, self.key_fmt = n_keys, key_fmt
        self.kinds = (["key"] + ["num"] * n_num + ["bool"] * n_bool
                      + ["str"] * n_str)
        counters = {"num": 0, "bool": 0, "str": 0}
        self.header = []
        for kind in self.kinds:
            if kind == "key":
                self.header.append("key")
            else:
                counters[kind] += 1
                self.header.append(kind[0] + str(counters[kind]))

    def row(self, rng, blanks=True):
        out = []
        for kind in self.kinds:
            if kind == "key":
                out.append(self.key_fmt % rng.randrange(self.n_keys))
            elif blanks and rng.random() < BLANK_SHARE:
                out.append("")
            elif kind == "num":
                out.append(number_text(rng.randint(-400000, 400000)))
            elif kind == "bool":
                out.append(rng.choice(("TRUE", "FALSE")))
            else:
                s = _string_cell(rng)
                # The first data row fixes the inferred schema: keep its
                # string cells non-numeric so they infer as strings.
                out.append(s if blanks else "first " + s)
        return _trim(out) if blanks else out

    def rows(self, rng, n, first=False):
        out = []
        for i in range(n):
            out.append(self.row(rng, blanks=not (first and i == 0)))
        return out

    def agg_columns(self):
        """Names of the aggregate columns the benchmark computes."""
        cols = ["cnt"]
        for name, kind in zip(self.header, self.kinds):
            if kind == "num":
                cols += [name + "_sum4", name + "_cnt"]
            elif kind == "bool":
                cols.append(name + "_true")
            elif kind == "str":
                cols.append(name + "_len")
        return cols

    def fold(self, acc, rows):
        """Adds rows into acc: key -> list of ints in agg_columns order."""
        width = len(self.kinds)
        for row in rows:
            cells = row + [""] * (width - len(row))
            vals = acc.get(cells[0])
            if vals is None:
                vals = acc[cells[0]] = [0] * len(self.agg_columns())
            vals[0] += 1
            j = 1
            for cell, kind in zip(cells[1:], self.kinds[1:]):
                if kind == "num":
                    if cell:
                        vals[j] += round(float(cell) * 4)
                        vals[j + 1] += 1
                    j += 2
                elif kind == "bool":
                    vals[j] += cell == "TRUE"
                    j += 1
                else:
                    vals[j] += len(cell)
                    j += 1
        return acc


READ_SPEC = GridSpec(40, "g%02d", n_num=9, n_bool=4, n_str=6)
TAIL_SPEC = GridSpec(100, "k%03d", n_num=5, n_bool=2, n_str=2)


def read_grid(seed, rows):
    """Header plus `rows` data rows of the sheet_read sheet (20 columns)."""
    rng = random.Random(seed * 7919 + 1)
    return [READ_SPEC.header] + READ_SPEC.rows(rng, rows, first=True)


def tail_base(seed, rows):
    """Header plus `rows` data rows of the sheet_tail source sheet."""
    rng = random.Random(seed * 7919 + 2)
    return [TAIL_SPEC.header] + TAIL_SPEC.rows(rng, rows, first=True)


def tail_rng(seed):
    """The stream of rows appended to the tail source, one batch per op."""
    return random.Random(seed * 7919 + 3)


def expected_aggregate(spec, data_rows):
    """Rows of [key, *ints] sorted by key, as the benchmark's group-by yields."""
    acc = spec.fold({}, data_rows)
    return [[k] + acc[k] for k in sorted(acc)]


# ---- parquet tables for the engine workload -------------------------

ENGINE_TABLES = ("embeddings", "documents")
ENGINE_DIM = 64
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data",
             "fast", "filter", "group", "hash", "join", "key", "line",
             "merge", "order", "part", "query", "row", "scan", "slow",
             "small", "sort", "spark", "stream", "table", "the", "value",
             "vector", "window", "word"]
DOC_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def engine_tables(seed, n_vec, n_docs, outdir):
    """Writes embeddings.parquet and documents.parquet, shaped as the
    repository's test data: unit-norm 64-dim float vectors rounded to 6
    places with a label, and documents of 10-100 words from a small
    vocabulary. Returns the file paths by table name."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(outdir, exist_ok=True)
    nrng = np.random.default_rng(seed * 7919 + 5)
    v = nrng.normal(0, 1, (n_vec, ENGINE_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).round(6).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), ENGINE_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, 10, n_vec, dtype=np.int32)),
    })
    rng = random.Random(seed * 7919 + 6)
    texts = [" ".join(rng.choice(DOC_WORDS) for _ in range(rng.randint(10, 100)))
             for _ in range(n_docs)]
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(DOC_LANGS) for _ in range(n_docs)],
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    paths = {}
    for name, table in zip(ENGINE_TABLES, (emb, docs)):
        paths[name] = os.path.join(outdir, name + ".parquet")
        pq.write_table(table, paths[name])
    return paths


def column_letter(n):
    s = ""
    while n > 0:
        n, r = divmod(n - 1, 26)
        s = chr(65 + r) + s
    return s or "A"
