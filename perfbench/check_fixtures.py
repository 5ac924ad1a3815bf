#!/usr/bin/env python3
"""Compare the benchmark's synthetic fixtures with a reference set.

    python3 perfbench/check_fixtures.py REF_DIR SCALE

REF_DIR holds the reference parquet tables of one scale factor
(TESTDATA.md) and SCALE is that scale factor. For every table the
script prints the row count, the schema and a one-line summary of each
column for the reference (``ref``) and for fixtures.py at SCALE
(``gen``), then the corpus and basket shapes the workloads depend on.
It exits 1 when a row count or a schema differs; the summaries are for
reading side by side.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from fixtures import TABLES, build_tables  # noqa: E402


def _column(col: pa.ChunkedArray) -> str:
    t = col.type
    if pa.types.is_string(t):
        counts = pc.value_counts(col).to_pylist()
        counts.sort(key=lambda c: -c["counts"])
        top = ", ".join(f"{c['values'][:12]}:{c['counts'] / len(col):.2f}" for c in counts[:3])
        return f"{len(counts)} distinct; top {top}"
    if pa.types.is_list(t):
        lens = pc.list_value_length(col)
        norms = np.linalg.norm(np.stack(col.to_numpy(zero_copy_only=False)), axis=1)
        return f"len {pc.min(lens).as_py()}..{pc.max(lens).as_py()}; norm {norms.min():.4f}..{norms.max():.4f}"
    mm = pc.min_max(col)
    if pa.types.is_timestamp(t):
        return f"{mm['min']} .. {mm['max']}; {pc.count_distinct(col).as_py()} distinct"
    return (
        f"{mm['min'].as_py():.6g} .. {mm['max'].as_py():.6g}; mean {pc.mean(col).as_py():.6g}; "
        f"{pc.count_distinct(col).as_py()} distinct"
    )


def _shapes(t: dict[str, pa.Table]) -> str:
    texts = t["documents"]["text"].to_pylist()
    unique = set(texts)
    dups = [x for x in texts if x.endswith(" dup")]
    words = [len(x.split()) for x in texts if not x.endswith(" dup")]
    li = t["lineitem"]
    keys = li["l_orderkey"].to_numpy()
    pairs = keys * 8 + li["l_linenumber"].to_numpy()
    return (
        f"docs {len(texts)} unique {len(unique)} dup-suffixed {len(dups)} "
        f"(prefix is a doc: {sum(x[:-4] in unique for x in dups)}); "
        f"words/doc {min(words)}..{max(words)}; "
        f"lines/order {len(keys) / t['orders'].num_rows:.2f}, orders with lines {len(np.unique(keys))}, "
        f"max {np.bincount(keys).max()}; repeated (orderkey, linenumber) {len(pairs) - len(np.unique(pairs))}"
    )


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    ref_dir, scale = argv[0], float(argv[1])
    ref = {n: pq.read_table(os.path.join(ref_dir, f"{n}.parquet")) for n in TABLES}
    gen = build_tables(scale)
    ok = True
    for name in TABLES:
        r, g = ref[name], gen[name]
        same = r.num_rows == g.num_rows and r.schema.remove_metadata().equals(g.schema)
        ok &= same
        print(f"== {name}: rows ref {r.num_rows} gen {g.num_rows}; schema {'same' if same else 'DIFFERS'}")
        for col in r.column_names:
            print(f"  {col:16s} ref {_column(r[col])}")
            if col in g.column_names:
                print(f"  {'':16s} gen {_column(g[col])}")
    print(f"shapes ref {_shapes(ref)}")
    print(f"shapes gen {_shapes(gen)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
